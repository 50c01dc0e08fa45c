"""Structured-streaming ER, dedup and resolve jobs (`streaming.stream`)."""
