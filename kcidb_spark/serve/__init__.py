"""The serving store's storage layer, shared by every store kind."""
