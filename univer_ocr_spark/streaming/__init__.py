"""Structured Streaming face of the engine.

The reference is batch-only (SURVEY.md §2.9) — its producer/consumer queues
(ref: train_data_generator.py:52-87) are execution plumbing, not semantics.
Here the same extraction stage runs unchanged over a streaming source: the
``mapInArrow`` stage is stateless, so it is legal in streaming plans, and
ingest-time extraction of a transcript firehose is the natural 100 TB-scale
deployment (extract-on-arrival instead of giant nightly batches).
"""
