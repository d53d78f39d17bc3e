"""Tests for the benchmark helpers."""
