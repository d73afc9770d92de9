import sys
from pathlib import Path

# the checkout root: perfbench and tagminder_spark import from there
sys.path.insert(0, str(Path(__file__).resolve().parents[2]))
