"""Benchmark for t_res_spark: see NOTES.md and run.py."""
