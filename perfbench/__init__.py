"""Steady-state benchmark of the event-log engine; entry point: ``perfbench/run.py``."""
