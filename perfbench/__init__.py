"""Oracle-checked end-to-end and per-layer benchmark of the engine."""
