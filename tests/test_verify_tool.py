"""Unit tests for the local gate's dtype-parity layer
(tools/verify_local.py::schema_kinds) — the logic that catches the two
round-2 driver-flag classes (DuckDB HUGEINT vs Spark BIGINT; raw
array output columns) before a driver round samples them."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from verify_local import schema_kinds  # noqa: E402


def test_hugeint_flags_against_bigint():
    sk, dk, unhashable = schema_kinds(
        [("n", "bigint")], ["HUGEINT"], ["n"]
    )
    assert sk["n"] == "int" and dk["n"] == "int128"
    assert sk["n"] != dk["n"] and not unhashable


def test_int_widths_unify():
    sk, dk, _ = schema_kinds(
        [("a", "int"), ("b", "bigint")], ["INTEGER", "BIGINT"], ["a", "b"]
    )
    assert sk == {"a": "int", "b": "int"} and dk == {"a": "int", "b": "int"}


def test_array_output_is_unhashable_both_sides():
    sk, dk, unhashable = schema_kinds(
        [("xs", "array<string>")], ["VARCHAR[]"], ["xs"]
    )
    assert sk["xs"].startswith("UNHASHABLE") and dk["xs"].startswith("UNHASHABLE")
    assert unhashable == ["xs", "xs"]


def test_decimal_compares_scale_not_precision():
    sk, dk, _ = schema_kinds(
        [("m", "decimal(28,2)")], ["DECIMAL(38,2)"], ["m"]
    )
    assert sk["m"] == dk["m"] == "decimal(s=2)"
    sk, dk, _ = schema_kinds([("m", "decimal(18,4)")], ["DECIMAL(18,2)"], ["m"])
    assert sk["m"] != dk["m"]


def test_timestamp_variants_unify():
    sk, dk, _ = schema_kinds(
        [("t", "timestamp_ntz")], ["TIMESTAMP"], ["t"]
    )
    assert sk["t"] == dk["t"] == "timestamp"
