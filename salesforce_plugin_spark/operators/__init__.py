"""DataFrame operators; each name is imported from its module, e.g. ``operators.elt``."""
