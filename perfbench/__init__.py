"""Benchmark of sms_db_spark; run it with `python3 perfbench/run.py --help`."""
