import os
import sys

# the benchmark's modules live one directory up and are imported by
# name; the package under test sits at the repository root above that
_BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [_BENCH, os.path.dirname(_BENCH)]
