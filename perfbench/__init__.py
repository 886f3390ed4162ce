"""Extraction-engine benchmark: workloads, output checks, process-tree
sampling and the traced per-layer ledger. Entry point: ``perfbench/run.py``."""
