"""Make the benchmark's modules importable as in ``perfbench/run.py``: its
own directory first, then the checkout's ``cpdd_spark``."""

import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [HERE, os.path.dirname(HERE)]
