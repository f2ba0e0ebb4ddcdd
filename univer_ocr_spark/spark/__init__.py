"""Spark-side engine: session config, extraction pipeline with byte-sized
tasks, manifest checkpoint/resume."""
