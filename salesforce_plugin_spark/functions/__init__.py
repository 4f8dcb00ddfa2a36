"""Column and DataFrame functions; each name is imported from its module, e.g. ``functions.text``."""
