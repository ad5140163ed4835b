import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
PERFBENCH = os.path.dirname(HERE)
CHECKOUT = os.path.dirname(PERFBENCH)
sys.path[:0] = [PERFBENCH, CHECKOUT]
