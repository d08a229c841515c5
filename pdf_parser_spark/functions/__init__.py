"""Scalar function catalog (SURVEY §2.9) — shared helpers."""
