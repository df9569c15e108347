"""Closed-loop engine benchmark: see DESIGN.md."""
