"""KG-construction benchmark (entry point: kgbench/run.py)."""
