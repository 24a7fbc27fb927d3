"""Production FS wiring gate (VERDICT r10 items 1-2).

Round 10 built and crash-proved the FS protocol (LocalFS /
MemoryObjectStore / HadoopFS) but nothing instantiated the production
adapter: every mutation-layer call site silently defaulted to LOCAL_FS, so
an s3a-rooted catalog would journal swaps, checkpoints, and footer probes
against the LOCAL disk with the URI as a literal path. These tests pin the
wiring shut, structurally and end to end:

1. AST gates: every call to an fs-taking storage primitive from the
   catalog-carrying orchestration modules (pipeline, medallion, sql)
   passes an explicit ``fs=`` — no silent LOCAL_FS default can creep back.
2. POSIX-write gate: no ``open()``/``os.replace``/``shutil.copy*``/
   ``os.makedirs`` on lake paths outside storage/fs.py in the modules that
   used to have them (sql.py DDL writer, sketch_rollup params sidecar).
3. Config -> FS construction: Settings.lake_fs / fs_atomic_rename select
   the adapter via make_lake_fs / Catalog.from_settings.
4. A full bronze->silver->gold pipeline e2e over ``HadoopFS(spark,
   atomic_rename=False)`` — the object-store journal branch end to end on
   file://, not just the unit crash matrix (tests/test_fs.py).
"""

from __future__ import annotations

import ast
import os

import pytest

PKG = os.path.join(os.path.dirname(__file__), "..", "tickerlake_spark")

# every storage primitive that takes fs= and mutates/probes lake paths
FS_TAKING = {
    "table_exists",
    "get_max_date",
    "detect_partition_column",
    "parquet_stats_max",
    "parquet_stats_all_non_null",
    "write_table",
    "upsert_table",
    "replace_keys",
    "replace_tail",
    "write_closes_extract",
    "append_closes_extract",
    "repair_closes_extract",
    "read_closes_for",
    "repair_partition_swaps",
    "repair_table_swaps",
    "replace_table",
    "compact_partition_dirs",
    "swap_partition_dir",
    "table_file_stats",
    "drop_table",
    # snapshot-aware read dispatch + the snapshot primitives themselves
    "read_table",
    "is_snapshot_table",
    "snap_read",
    "snap_write",
    "snap_upsert",
    "snap_replace_where",
    "snap_changes",
    "snap_files",
    "snap_schema",
    "snap_vacuum",
    "snap_compact",
    "snap_stats_max",
    "snap_current_version",
}

# orchestration modules that carry a catalog (and so have NO excuse to let
# a primitive fall back to LOCAL_FS)
GATED_MODULES = [
    "pipeline.py",
    os.path.join("streaming", "medallion.py"),
    "sql.py",
]


def _calls(path):
    tree = ast.parse(open(path).read())
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            fn = node.func
            name = fn.id if isinstance(fn, ast.Name) else (
                fn.attr if isinstance(fn, ast.Attribute) else None
            )
            if name in FS_TAKING:
                yield name, node


@pytest.mark.parametrize("mod", GATED_MODULES)
def test_every_fs_taking_call_passes_fs_explicitly(mod):
    path = os.path.join(PKG, mod)
    missing = []
    for name, node in _calls(path):
        kw = {k.arg for k in node.keywords}
        if "fs" not in kw:
            missing.append(f"{mod}:{node.lineno} {name}(...)")
    assert not missing, (
        "catalog-carrying module lets these storage calls fall back to "
        "LOCAL_FS (pass fs=catalog.fs):\n" + "\n".join(missing)
    )


# modules whose only legitimate filesystem surface is the FS protocol:
# direct POSIX mutation of lake paths regressed the object-store story
NO_POSIX_WRITE_MODULES = [
    "sql.py",
    os.path.join("streaming", "sketch_rollup.py"),
    "pipeline.py",
    os.path.join("streaming", "medallion.py"),
    os.path.join("operators", "closes.py"),
    os.path.join("operators", "indicator_state.py"),
    os.path.join("storage", "checkpoints.py"),
    os.path.join("storage", "io.py"),
    os.path.join("storage", "maintenance.py"),
    os.path.join("storage", "upsert.py"),
    os.path.join("storage", "snapshots.py"),
]

POSIX_WRITERS = {
    ("os", "replace"), ("os", "rename"), ("os", "makedirs"), ("os", "remove"),
    ("os", "unlink"), ("os", "link"),
    ("shutil", "copy"), ("shutil", "copy2"), ("shutil", "copytree"),
    ("shutil", "rmtree"), ("shutil", "move"),
}


@pytest.mark.parametrize("mod", NO_POSIX_WRITE_MODULES)
def test_no_posix_writes_outside_fs_protocol(mod):
    path = os.path.join(PKG, mod)
    tree = ast.parse(open(path).read())
    bad = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            fn = node.func
            if isinstance(fn, ast.Name) and fn.id == "open":
                # open(...) with a write mode
                mode = ""
                if len(node.args) > 1 and isinstance(node.args[1], ast.Constant):
                    mode = str(node.args[1].value)
                for k in node.keywords:
                    if k.arg == "mode" and isinstance(k.value, ast.Constant):
                        mode = str(k.value.value)
                if any(c in mode for c in "wax+"):
                    bad.append(f"{mod}:{node.lineno} open(mode={mode!r})")
            if (
                isinstance(fn, ast.Attribute)
                and isinstance(fn.value, ast.Name)
                and (fn.value.id, fn.attr) in POSIX_WRITERS
            ):
                bad.append(f"{mod}:{node.lineno} {fn.value.id}.{fn.attr}(...)")
    assert not bad, (
        "POSIX mutation on (potential) lake paths outside storage/fs.py:\n"
        + "\n".join(bad)
    )


def test_make_lake_fs_selects_adapter(spark):
    from tickerlake_spark.config import Settings
    from tickerlake_spark.storage.catalog import Catalog
    from tickerlake_spark.storage.fs import LOCAL_FS, HadoopFS, make_lake_fs

    assert make_lake_fs("local") is LOCAL_FS
    h = make_lake_fs("hadoop", spark=spark, atomic_rename=False)
    assert isinstance(h, HadoopFS) and h.atomic_rename is False
    with pytest.raises(ValueError, match="SparkSession"):
        make_lake_fs("hadoop")
    with pytest.raises(ValueError, match="unknown"):
        make_lake_fs("posix")

    s = Settings.from_env(
        {"TICKERLAKE_LAKE_FS": "hadoop", "TICKERLAKE_FS_ATOMIC_RENAME": "false",
         "TICKERLAKE_DATA": "/lake"}
    )
    assert s.lake_fs == "hadoop" and s.fs_atomic_rename is False
    cat = Catalog.from_settings(s, spark=spark)
    assert cat.root == "/lake"
    assert isinstance(cat.fs, HadoopFS) and cat.fs.atomic_rename is False
    # default stays local/POSIX
    cat2 = Catalog.from_settings(Settings.from_env({}), spark=spark)
    assert cat2.fs is LOCAL_FS
    with pytest.raises(ValueError, match="lake_fs"):
        Settings.from_env({"TICKERLAKE_LAKE_FS": "nfs"})
    with pytest.raises(ValueError, match="boolean"):
        Settings.from_env({"TICKERLAKE_FS_ATOMIC_RENAME": "maybe"})


def _demo_ingest(spark, source, catalog, checkpoints, start, end):
    from tickerlake_spark import pipeline

    return pipeline.run_bronze(
        spark, source, catalog, checkpoints, start, end, max_workers=2
    )


def test_pipeline_e2e_over_hadoopfs_objstore_branch(spark, tmp_path):
    """The flagship wiring proof (VERDICT r10 item 1 'done' criterion): a
    full bronze->silver->gold run with the catalog carrying
    HadoopFS(atomic_rename=False) — every journaled swap, checkpoint,
    footer probe, closes-extract bucket swap, sketch sidecar, and DDL
    write runs the object-store marker protocol end to end (over file://,
    where both branches are real code paths), then an APPEND run exercises
    the incremental arms on the same FS."""
    import datetime as dt

    from tickerlake_spark import pipeline
    from tickerlake_spark.storage.catalog import Catalog
    from tickerlake_spark.storage.checkpoints import Checkpoints
    from tickerlake_spark.storage.fs import HadoopFS
    from tickerlake_spark.storage.io import read_table

    from tickerlake_spark.sources.demo import demo_source

    fs = HadoopFS(spark, atomic_rename=False)
    catalog = Catalog(root=str(tmp_path / "lake"), fs=fs)
    checkpoints = Checkpoints(str(tmp_path / "lake" / "checkpoints.json"), fs=fs)

    # ONE source over the whole horizon: the second bronze window must see
    # the same splits table, or the fingerprint gate (correctly) forces a
    # full rewrite instead of the append arm under test
    source = demo_source(dt.date(2024, 1, 2), dt.date(2024, 2, 9))
    r = _demo_ingest(
        spark, source, catalog, checkpoints, dt.date(2024, 1, 2),
        dt.date(2024, 2, 2),
    )
    assert r["rows"] > 0
    s1 = pipeline.run_silver(spark, catalog, checkpoints)
    assert s1["mode"] == "full"
    g1 = pipeline.run_gold(spark, catalog, checkpoints=checkpoints)
    assert g1["mode"] == "full" and g1["vwap_rows"] > 0

    # the DDL sidecar landed through the FS protocol
    ddl = str(tmp_path / "lake" / "gold" / "_reference_views.sql")
    assert fs.isfile(ddl) and b"CREATE OR REPLACE VIEW" in fs.read_bytes(ddl)

    # append arm: ingest one more week, silver+gold go incremental on the
    # same object-store-semantics FS (tail swaps, closes append, keyed
    # upserts all run the marker protocol)
    r2 = _demo_ingest(
        spark, source, catalog, checkpoints, dt.date(2024, 2, 3),
        dt.date(2024, 2, 9),
    )
    assert r2["rows"] > 0
    s2 = pipeline.run_silver(spark, catalog, checkpoints)
    assert s2["mode"] == "append"
    g2 = pipeline.run_gold(spark, catalog, checkpoints=checkpoints)
    assert g2["mode"] == "incremental"

    # consistency: stored daily indicators match a full recompute
    from tickerlake_spark.validation import validate_incremental_indicators

    rep = validate_incremental_indicators(
        read_table(spark, catalog.silver("daily_aggregates")),
        read_table(spark, catalog.silver("daily_indicators")),
    )
    assert rep.filter("NOT ok").count() == 0
