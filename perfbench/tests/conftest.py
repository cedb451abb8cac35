import os
import sys

# make `import perfbench` work however pytest is started
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
