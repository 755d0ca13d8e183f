import sys
from pathlib import Path

# the checkout root, so that ``perfbench`` and the package import
sys.path.insert(0, str(Path(__file__).resolve().parents[2]))
