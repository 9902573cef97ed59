"""Put the repository root and this directory on the import path, as
``python3 perfbench/run.py`` does, so the tests import the modules the
benchmark runs."""

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]
