import os
import sys

# the checkout root: perfbench and the repository's tests package
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
