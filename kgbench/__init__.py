"""KG-construction benchmark for sage_spark; entry point ``kgbench/run.py``."""
