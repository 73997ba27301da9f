"""Settings disposition closure (round-9 VERDICT item #2): every
setting name the reference spells, every name this engine
maps/guards/honors, and the common ClickHouse query settings each have
exactly one recorded disposition, and the claimed disposition matches
the shim's real behavior."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys

import pytest

from clickhouse_arrow_spark.settings_closure import (
    DISPOSITIONS,
    REFERENCE_SPELLED,
    disposition,
    render_markdown,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GENERATOR = os.path.join(ROOT, "scripts", "gen_settings_closure.py")

VALID_KINDS = {
    "mapped", "honored", "guarded", "accepted-neutral", "stripped",
    "client-option", "ddl-level",
}


def test_reference_scan_is_closed():
    """The generator scans the reference tree and exits 0 only when
    every extracted name has an explicit row (the closure proof).
    Without the reference tree the scanned names stay checked through
    REFERENCE_SPELLED (test_every_reference_spelled_name_has_row)."""
    spec = importlib.util.spec_from_file_location("gen_closure", GENERATOR)
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    if not os.path.isdir(gen.REF):
        pytest.skip(f"reference source tree {gen.REF} is not present")
    proc = subprocess.run(
        [sys.executable, GENERATOR],
        capture_output=True, text=True, cwd=ROOT,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    assert "closure OK" in proc.stdout


def test_every_reference_spelled_name_has_row():
    for name in REFERENCE_SPELLED:
        assert name in DISPOSITIONS, name


def test_rows_well_formed():
    for name, (kind, detail) in DISPOSITIONS.items():
        assert name == name.lower(), name
        assert kind in VALID_KINDS, (name, kind)
        assert len(detail) > 10, name


def test_shim_keys_all_have_rows():
    """Every name the settings shim maps and every semantic guard in
    the dialect must appear in the closure — no hidden dispositions."""
    from clickhouse_arrow_spark.dialect import HONORED_SETTINGS
    from clickhouse_arrow_spark.dialect.settings import _SEMANTIC_SETTINGS
    from clickhouse_arrow_spark.settings import _CH_TO_SPARK

    for name in _CH_TO_SPARK:
        assert DISPOSITIONS.get(name, ("", ""))[0] == "mapped", name
    for name in _SEMANTIC_SETTINGS:
        assert DISPOSITIONS.get(name, ("", ""))[0] == "guarded", name
    for name in HONORED_SETTINGS:
        assert DISPOSITIONS.get(name, ("", ""))[0] == "honored", name


def test_mapped_rows_translate_to_real_confs():
    from clickhouse_arrow_spark.settings import (
        _CH_TO_SPARK,
        _PASSTHROUGH_PREFIX,
        translate_setting,
    )

    for name, (kind, _detail) in DISPOSITIONS.items():
        conf, _v = translate_setting(name, "1")
        if name in _CH_TO_SPARK:
            assert not conf.startswith(_PASSTHROUGH_PREFIX), name
        else:
            # everything else rides the namespaced passthrough
            assert conf.startswith(_PASSTHROUGH_PREFIX), name


def test_unknown_name_fallback():
    kind, detail = disposition("some_setting_nobody_listed")
    assert kind == "accepted-neutral"
    assert "passthrough" in detail


def test_guarded_settings_raise_on_diverging_value(client):
    from clickhouse_arrow_spark.dialect import UntranslatableFunctionError

    with pytest.raises(UntranslatableFunctionError, match="RESULTS"):
        client.query_ch(
            "SELECT 1 AS x SETTINGS join_use_nulls = 0"
        ).collect()
    # the engine-matching value passes through
    assert client.query_ch(
        "SELECT 1 AS x SETTINGS join_use_nulls = 1"
    ).collect()[0]["x"] == 1


def test_markdown_render_matches_generated_file():
    path = os.path.join(ROOT, "docs", "SETTINGS_PARITY.md")
    with open(path, encoding="utf-8") as f:
        assert f.read() == render_markdown()
