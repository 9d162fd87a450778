import sys
from pathlib import Path

# the checkout root, so `perfbench` and `orc_rust_spark` import from any cwd
sys.path.insert(0, str(Path(__file__).resolve().parents[2]))
