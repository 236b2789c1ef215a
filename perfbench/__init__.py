"""Layer-by-layer benchmark of the near-duplicate engine (see README.md)."""
