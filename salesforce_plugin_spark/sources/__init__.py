"""Catalog, extract sinks and JDBC; each name is imported from its module, e.g. ``sources.io``."""
