"""Every registered query must match its DuckDB oracle exactly
(the local twin of the driver's t2 gate). Runs at sf0.01 — the same
scale the driver uses."""

from __future__ import annotations

import os

import pytest

from data_engineering_course_project_2023_spark.plans import registry

from .conftest import SF_CORRECT
from .parity import compare


# Oracles whose SQL embeds constants TRAINED on the sf0.01 fixture
# (IVF centroids / PQ codebooks — data-dependent by nature; see
# plans/pq_fixture.py, plans/ivf_fixture.py). They are exact at the
# driver's gate SF and meaningless at any other; the SF-sweep skips
# them loudly instead of failing on a known-pinned artifact.
_SF001_PINNED = {"ivf_topk", "pq_codes", "pq_topk", "ivfpq_topk"}


@pytest.mark.parametrize(
    "name",
    [n for n, q in registry.REGISTRY.items() if q.oracle is not None],
)
def test_query_matches_oracle(spark, name):
    if name in _SF001_PINNED and not SF_CORRECT.rstrip("/").endswith("sf0.01"):
        pytest.skip(f"{name}: oracle codebook pinned to the sf0.01 fixture")
    q = registry.REGISTRY[name]
    df = registry.run_query(name, spark, SF_CORRECT)
    problems = compare(df, q.oracle, SF_CORRECT)
    assert not problems, f"{name}: " + "; ".join(problems)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.queries()) >= set(e.oracle_sql())


def test_no_registry_query_emits_complex_typed_columns(registry_sweep):
    """Permanent guard for the r2 driver-err class: the driver's pandas
    canonicalizer (sorted-column sort_values + row hash) cannot hash
    array/map/struct cells, so EVERY registry output — oracled or
    rows-only — must be primitive-typed. Flatten to csv strings or
    exploded rows instead (embedding_quantize / vocab_encode precedent).
    Output schemas do not depend on the scale factor (all 237 are
    identical at sf0.001 and sf0.01), so the shared SF_CORRECT build
    serves.
    """
    offenders = registry_sweep["complex_typed_columns"]
    assert not offenders, offenders


def test_registry_order_rule():
    """The driver checks only the first 50 registry entries: the query
    ``__spark_entry__.entry`` runs comes first, and no rows-only query
    (oracle=None) precedes an oracled one."""
    names = list(registry.REGISTRY)
    assert names[0] == "star_revenue_by_region_year"
    oracled = [registry.REGISTRY[n].oracle is not None for n in names]
    assert oracled == sorted(oracled, reverse=True), [
        n for n, o in zip(names, oracled) if not o
    ]


def test_sized_shuffle_partitions_reads_current_bytes(tmp_path):
    """The reducer count follows the files as they are now, not as they
    were at the first call for the same path."""
    part = tmp_path / "lineitem.parquet" / "part-0"
    part.parent.mkdir()
    part.write_bytes(b"x")
    assert registry._sized_shuffle_partitions(str(tmp_path), ("lineitem",)) == 1
    os.truncate(part, 40 << 20)  # sparse: 40 MiB → ceil(40 / 16) = 3
    assert registry._sized_shuffle_partitions(str(tmp_path), ("lineitem",)) == 3


@pytest.mark.parametrize("bound", [0, float("inf")], ids=["loop", "local"])
@pytest.mark.parametrize(
    "name", ["copair_components", "neardup_clusters", "part_golden_records"]
)
def test_cc_consumers_match_oracle_at_both_bounds(spark, monkeypatch, name, bound):
    """Each connected_components consumer matches its oracle through the
    distributed loop (bound 0) and through the driver finish (bound ∞)."""
    from data_engineering_course_project_2023_spark.operators import dedup

    monkeypatch.setattr(dedup, "LOCAL_FINISH_EDGES", bound)
    df = registry.run_query(name, spark, SF_CORRECT)
    problems = compare(df, registry.REGISTRY[name].oracle, SF_CORRECT)
    assert not problems, f"{name}: " + "; ".join(problems)
