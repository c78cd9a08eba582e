import os
import sys

# the benchmark is imported as the ``perfbench`` package from the checkout root
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
