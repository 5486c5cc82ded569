"""The benchmark's modules import each other as top-level modules, as
``python3 perfbench/run.py`` runs them; the program sits one level up."""

import sys
from pathlib import Path

_BENCH = Path(__file__).resolve().parent.parent
for p in (str(_BENCH), str(_BENCH.parent)):
    if p not in sys.path:
        sys.path.insert(0, p)
