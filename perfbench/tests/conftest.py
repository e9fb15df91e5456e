import os
import sys

# the benchmark and the engine are imported from the checkout's root
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))
