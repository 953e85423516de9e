"""Canonical-record guard of bench.py (VERDICT r14 item 2): only the
round-of-record configuration — sf0.1 at 32 cores — may write BENCH.json;
the driver's routine local[8] scaling pass and ad-hoc sf runs land in
clearly-named side files."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import artifact_name  # noqa: E402


def test_canonical_config_writes_bench_json():
    assert artifact_name(0.1, "32") == "BENCH.json"


def test_noncanonical_cpus_writes_side_file():
    # the driver's 8-core scaling run must never clobber the record
    assert artifact_name(0.1, "8") == "BENCH_c8.json"


def test_noncanonical_sf_writes_side_file_regardless_of_cpus():
    assert artifact_name(0.001, "32") == "BENCH_sf0.001.json"
    assert artifact_name(0.001, "8") == "BENCH_sf0.001.json"


def test_cpus_compared_as_integer():
    # zero-padded or space-padded 32 is still the canonical core count
    assert artifact_name(0.1, "032") == "BENCH.json"
    assert artifact_name(0.1, " 32 ") == "BENCH.json"
    assert artifact_name(0.1, "08") == "BENCH_c8.json"


def test_unparseable_cpus_writes_side_file():
    assert artifact_name(0.1, "32x") == "BENCH_c32x.json"
    assert artifact_name(0.1, "") == "BENCH_c.json"

