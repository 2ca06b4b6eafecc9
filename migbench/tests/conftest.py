import os
import sys

# the benchmark's modules import each other by their flat names
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
