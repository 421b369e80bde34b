"""Pure-Python reference-semantics parsers and comparators (the correctness oracle)."""
