"""Distributed operators, one family per submodule (import e.g. ``operators.dedup``)."""
