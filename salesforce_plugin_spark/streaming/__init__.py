"""Streaming sources and folds; each name is imported from its module, e.g. ``streaming.upsert``."""
