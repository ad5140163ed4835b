import os

import guard


def _tree(tmp_path):
    root = tmp_path / "checkout"
    (root / "pkg").mkdir(parents=True)
    (root / "pkg" / "a.py").write_text("x = 1\n")
    (root / ".cache").mkdir()  # an ignored dir is watched too
    (root / ".cache" / "blob").write_bytes(b"0" * 10)
    return root


def test_unchanged_tree_passes(tmp_path):
    root = _tree(tmp_path)
    g = guard.TreeGuard([str(root)])
    g.start()
    assert g.check() == []


def test_planted_file_is_named(tmp_path):
    root = _tree(tmp_path)
    g = guard.TreeGuard([str(root)])
    g.start()
    (root / ".cache" / "planted.parquet").write_bytes(b"x")
    touched = g.check()
    assert str(root / ".cache" / "planted.parquet") in touched
    # the directory that gained an entry changed too
    assert str(root / ".cache") in touched


def test_rewritten_and_removed_files_are_named(tmp_path):
    root = _tree(tmp_path)
    g = guard.TreeGuard([str(root)])
    g.start()
    (root / "pkg" / "a.py").write_text("x = 22\n")
    os.remove(root / ".cache" / "blob")
    touched = g.check()
    assert str(root / "pkg" / "a.py") in touched
    assert str(root / ".cache" / "blob") in touched


def test_creating_an_absent_root_is_a_change(tmp_path):
    absent = tmp_path / "elsewhere" / ".cache"
    g = guard.TreeGuard([str(absent)])
    g.start()
    assert g.check() == []
    (absent / "warehouse").mkdir(parents=True)
    assert str(absent) in g.check()


def test_temp_root_is_exempt(tmp_path):
    root = _tree(tmp_path)
    run_tmp = tmp_path / "run"
    run_tmp.mkdir()
    # a root containing the temp root is not watched
    g = guard.TreeGuard([str(root), str(tmp_path)], exempt=[str(run_tmp)])
    assert g.roots == [str(root)]


def test_engine_write_roots_reads_literals(tmp_path):
    root = tmp_path / "checkout"
    (root / "mo_etl_spark" / "suites").mkdir(parents=True)
    (root / "__spark_entry__.py").write_text('DATA = "/data/sf0.001"\n')
    (root / "mo_etl_spark" / "suites" / "x.py").write_text(
        'CACHE = "/srv/app/.cache"\n'
        'def marker(tag):\n'
        '    return f"/srv/app/.scratch/edges_{tag}.mtime"\n'
        'REL = "/b"\n'
        'DIR = "/docs/"\n'
        'DOC = "not /a/path"\n'
    )
    assert guard.engine_write_roots(str(root)) == [
        "/data/sf0.001",
        "/srv/app/.cache",
        "/srv/app/.scratch",
    ]


def test_minimal_roots_drops_nested():
    assert guard.minimal_roots(["/a/b/c", "/a/b", "/a/bc", "/x"]) == [
        "/a/b",
        "/a/bc",
        "/x",
    ]
