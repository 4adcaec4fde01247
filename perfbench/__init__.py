"""Repository benchmark: build and query workloads over the engine's public
API. Entry point: ``python3 perfbench/run.py`` (see run.py)."""
