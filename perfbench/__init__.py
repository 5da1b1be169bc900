"""Benchmark harness for the flink_training_exercises_spark package (see README.md)."""
