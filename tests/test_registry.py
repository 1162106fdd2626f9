"""The query registry runs no DuckDB oracle until one is read: building it,
and reading only the query builders, call no callable oracle builder; the
first read of an entry's oracle calls that builder alone, once per oracle SF
dir, and a failing builder degrades only its own entry to rows-only."""

from __future__ import annotations

import importlib
import os

import pytest

from duckdb_nats_jetstream_spark import queries as Q

#: queries whose oracle builders train a codebook or query DuckDB when called
CODEBOOK_ORACLES = {"sim_pq_topk", "sim_ivf_topk", "text_bm25_rm3", "sim_hybrid_rrf_ann"}


@pytest.fixture
def spies(monkeypatch):
    """Replace every callable oracle slot with a spy that records the oracle
    SF dir it saw and returns SQL naming it; ``calls[name]`` lists the dirs."""
    monkeypatch.setattr(Q, "_ORACLE_CACHE", {})
    calls: dict[str, list[str | None]] = {}
    for mod_name in Q._MODULES:
        mod = importlib.import_module(f"{Q.__name__}.{mod_name}")
        for name, (fn, sql) in list(mod.QUERIES.items()):
            if callable(sql):
                calls[name] = []

                def spy(name=name):
                    sf = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR")
                    calls[name].append(sf)
                    return f"SELECT '{sf}' AS sf"

                monkeypatch.setitem(mod.QUERIES, name, (fn, spy))
    assert CODEBOOK_ORACLES <= set(calls)
    return calls


def test_building_and_reading_builders_runs_no_oracle(spies):
    reg = Q.full_registry()
    assert len(reg) >= 173
    for entry in reg.values():
        assert callable(entry[0])
    assert all(c == [] for c in spies.values()), spies


def test_first_oracle_read_calls_that_builder_once(spies, monkeypatch):
    reg = Q.full_registry()
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF_DIR", "/data/a")
    assert reg["sim_ivf_topk"][1] == "SELECT '/data/a' AS sf"
    assert reg["sim_ivf_topk"][1] == "SELECT '/data/a' AS sf"
    assert {n: c for n, c in spies.items() if c} == {"sim_ivf_topk": ["/data/a"]}
    # unpacking reads the oracle through the same cache
    fn, sql = reg["sim_ivf_topk"]
    assert fn is reg["sim_ivf_topk"][0] and sql == "SELECT '/data/a' AS sf"
    assert spies["sim_ivf_topk"] == ["/data/a"]
    # the cache is keyed on the oracle SF dir at read time
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF_DIR", "/data/b")
    assert reg["sim_ivf_topk"][1] == "SELECT '/data/b' AS sf"
    assert spies["sim_ivf_topk"] == ["/data/a", "/data/b"]


def test_failing_oracle_builder_degrades_its_entry_to_rows_only(spies, monkeypatch):
    from duckdb_nats_jetstream_spark.queries import pipeline

    fn, _ = pipeline.QUERIES["sim_ivf_topk"]

    def broken():
        raise OSError("parquet unreadable")

    monkeypatch.setitem(pipeline.QUERIES, "sim_ivf_topk", (fn, broken))
    reg = Q.full_registry()
    with pytest.warns(UserWarning, match="rows-only"):
        assert reg["sim_ivf_topk"][1] is None
    assert reg["sim_ivf_topk"][0] is fn
    assert reg["sim_pq_topk"][1].startswith("SELECT")


def test_entry_queries_resolve_no_oracle(spies):
    import __spark_entry__ as e

    fns = e.queries()
    assert all(callable(f) for f in fns.values())
    assert all(c == [] for c in spies.values()), spies
    sqls = e.oracle_sql()
    assert set(sqls) <= set(fns)
    assert all(c for c in spies.values())
