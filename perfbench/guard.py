"""Tree guard: proof that a run left the checkout untouched.

The runner snapshots every watched tree before the worker starts and
after it ends, ignored files included, and fails the run naming every
path that appeared, vanished or changed size or mtime.  The watched
trees are the checkout itself plus every absolute directory the
engine's own sources name (its fixture caches, warehouse and scratch
roots): suites that write there touch no file of the checkout when it
lives elsewhere, so watching the checkout alone would miss them.  A
watched path that does not exist is recorded as absent, and its
creation is a change too.
"""

from __future__ import annotations

import ast
import os
import re

#: an absolute path literal with at least two components ("/a/b")
_ABS_PATH = re.compile(r"^(/[A-Za-z0-9_.\-]+){2,}/?$")

Snapshot = dict[str, tuple]


def snapshot(root: str) -> Snapshot:
    """Map of path -> (kind, size, mtime_ns) for ``root`` and every
    entry below it, without following links.  An absent root maps to
    a single ``absent`` marker."""
    try:
        st = os.lstat(root)
    except FileNotFoundError:
        return {root: ("absent",)}
    out: Snapshot = {root: ("d", 0, st.st_mtime_ns)}
    for base, dirs, files in os.walk(root):
        for name in dirs + files:
            p = os.path.join(base, name)
            try:
                st = os.lstat(p)
            except FileNotFoundError:  # removed between listing and stat
                continue
            kind = "d" if name in dirs and not os.path.islink(p) else "f"
            size = 0 if kind == "d" else st.st_size
            out[p] = (kind, size, st.st_mtime_ns)
    return out


def changed(before: Snapshot, after: Snapshot) -> list[str]:
    """Paths whose entry differs between two snapshots, sorted."""
    return sorted(
        p for p in before.keys() | after.keys() if before.get(p) != after.get(p)
    )


def engine_write_roots(checkout: str) -> list[str]:
    """Absolute directories named by string literals in the engine's
    sources under ``checkout``.  An f-string contributes the directory
    of its constant prefix."""
    found: set[str] = set()
    files = [os.path.join(checkout, "__spark_entry__.py")]
    for base, _dirs, names in os.walk(os.path.join(checkout, "mo_etl_spark")):
        files += [os.path.join(base, n) for n in names if n.endswith(".py")]
    for path in files:
        try:
            with open(path) as f:
                tree = ast.parse(f.read(), path)
        except (OSError, SyntaxError):
            continue
        parts = {
            id(v)
            for node in ast.walk(tree)
            if isinstance(node, ast.JoinedStr)
            for v in node.values
        }
        for node in ast.walk(tree):
            if isinstance(node, ast.JoinedStr):
                head = node.values[0] if node.values else None
                if isinstance(head, ast.Constant) and isinstance(head.value, str):
                    d = os.path.dirname(head.value)
                    if _ABS_PATH.match(d):
                        found.add(os.path.normpath(d))
            elif isinstance(node, ast.Constant) and id(node) not in parts:
                if isinstance(node.value, str) and _ABS_PATH.match(node.value):
                    found.add(os.path.normpath(node.value))
    return sorted(found)


def minimal_roots(paths: list[str]) -> list[str]:
    """Drop every path that lies inside another path of the list."""
    out: list[str] = []
    for p in sorted(set(os.path.normpath(x) for x in paths)):
        if not any(p == q or p.startswith(q.rstrip("/") + "/") for q in out):
            out.append(p)
    return out


class TreeGuard:
    """Snapshot a set of trees before a run and diff them after.

    A root that contains an ``exempt`` path (the run's own temp root)
    or lies inside one is not watched: it would report the run's own
    output.  The runner refuses a temp root inside the checkout.
    """

    def __init__(self, roots: list[str], exempt: list[str] = ()):
        ex = [os.path.normpath(e) for e in exempt]

        def covers(r: str, e: str) -> bool:
            return e == r or e.startswith(r.rstrip("/") + "/")

        self.roots = minimal_roots(
            [r for r in roots if not any(covers(r, e) or covers(e, r) for e in ex)]
        )
        self._before: Snapshot = {}

    def start(self) -> None:
        self._before = self._snap()

    def check(self) -> list[str]:
        return changed(self._before, self._snap())

    def _snap(self) -> Snapshot:
        out: Snapshot = {}
        for r in self.roots:
            out.update(snapshot(r))
        return out
