"""Benchmark of the DP release path and the store lifecycle; see NOTES.md."""
