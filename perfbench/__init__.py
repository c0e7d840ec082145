"""Layered extraction benchmark; entry point ``perfbench/run.py``."""
