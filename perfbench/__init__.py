"""Engine benchmark for fsst_spark (see ``perfbench/run.py``)."""
