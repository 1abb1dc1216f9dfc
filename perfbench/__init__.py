"""vunnel_spark's benchmark: ``python3 perfbench/run.py --workload NAME``."""

import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
