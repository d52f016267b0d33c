"""Steady closed-loop benchmark for the medallion pipeline (see README.md)."""
