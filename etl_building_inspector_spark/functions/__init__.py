"""Column-expression functions, one family per submodule (import e.g. ``functions.text``)."""
