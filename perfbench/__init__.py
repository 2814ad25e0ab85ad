"""Lifecycle and registry benchmark for kamu_cli_spark (see run.py)."""
