"""Spark ML pair classifier: train, evaluate, score (`ml.model`)."""
