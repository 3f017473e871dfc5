"""Sink-side operators (K2/K3/K4 contracts) and the ADS serving layer."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from realtime_datawarehouse_spark import serving
from realtime_datawarehouse_spark.operators import sinks, table_store
from tests.conftest import SF_DIR


def test_exclude_transient_drops_accumulator_cols(spark):
    df = spark.createDataFrame(
        [(1, "a", [1, 2])], "id int, keep string, order_id_set array<int>"
    )
    out = sinks.exclude_transient(df, ["order_id_set"])
    assert out.columns == ["id", "keep"]


def test_upsert_sink_last_write_wins(spark, tmp_path):
    path = str(tmp_path / "dim_state")
    b1 = spark.createDataFrame(
        [("1", "old", 1), ("2", "keep", 1)], "pk string, val string, ver int"
    )
    b2 = spark.createDataFrame(
        [("1", "new", 2), ("3", "ins", 2)], "pk string, val string, ver int"
    )
    sinks.upsert_sink(spark, b1, path, pk="pk", version_col="ver")
    sinks.upsert_sink(spark, b2, path, pk="pk", version_col="ver")
    state = {
        r.pk: r.val for r in table_store.read_state(spark, path).collect()
    }
    assert state == {"1": "new", "2": "keep", "3": "ins"}


def test_upsert_sink_is_executor_side(tmp_path):
    """VERDICT r01 #1: the MERGE path must never materialize the table on
    the driver — no collect()/createDataFrame round-trip anywhere in the
    upsert/merge/commit code path (multi-GB state must stay distributed).
    The one documented exception lives OUTSIDE these functions by design:
    ``table_store._touched_buckets`` collects ≤ _MAX_BUCKETS bucket ids
    (a manifest lookup, bounded by pmod's range — never row data)."""
    from realtime_datawarehouse_spark.operators import table_store as ts
    from realtime_datawarehouse_spark.streaming import pipelines

    for fn in (
        sinks.upsert_sink,
        pipelines._merge_dim,
        ts.commit,
        ts.merge_upsert,
        ts.read_state,
    ):
        names = set(fn.__code__.co_names)
        assert not names & {"collect", "createDataFrame", "toPandas"}, (
            fn.__qualname__,
            names,
        )


def test_table_store_crash_safety(spark, tmp_path):
    """A half-finished commit (version dir written, pointer never flipped —
    the worst-case crash point) must leave the previous committed state
    fully readable, and the next commit must succeed past the debris."""
    import os

    path = str(tmp_path / "versioned")
    v1 = spark.createDataFrame([(1, "a")], "id int, v string")
    table_store.commit(v1, path)
    # simulate a writer that died after writing data but before the flip
    orphan = os.path.join(path, "v-0000000099")
    spark.createDataFrame([(9, "junk")], "id int, v string").write.parquet(orphan)
    got = {r.id: r.v for r in table_store.read_state(spark, path).collect()}
    assert got == {1: "a"}
    # recovery: a later commit supersedes the orphan and GCs it
    table_store.commit(spark.createDataFrame([(2, "b")], "id int, v string"), path)
    got = {r.id: r.v for r in table_store.read_state(spark, path).collect()}
    assert got == {2: "b"}


def test_orphan_grace_is_sizeable(spark, tmp_path):
    """ADVICE r5 #3: ``orphan_grace_s`` is a knob. A slow writer's
    unflipped claim dir must survive GC while younger than the grace and
    be pruned once older — so tables with very long snapshot writes can
    raise the grace instead of risking a mid-write prune."""
    import os
    import time

    path = str(tmp_path / "versioned")
    table_store.commit(
        spark.createDataFrame([(1, "a")], "id int, v string"), path
    )
    # a writer mid-snapshot: claim dir exists, pointer never flipped
    claim = os.path.join(path, "v-0000000099")
    spark.createDataFrame([(9, "wip")], "id int, v string").write.parquet(claim)
    two_min_ago = time.time() - 120
    os.utime(claim, (two_min_ago, two_min_ago))
    # grace above the claim's age: commit GC must spare it
    table_store.commit(
        spark.createDataFrame([(2, "b")], "id int, v string"),
        path,
        orphan_grace_s=600.0,
    )
    assert os.path.isdir(claim)
    # grace below the claim's age: now it is a crashed writer's orphan
    table_store.commit(
        spark.createDataFrame([(3, "c")], "id int, v string"),
        path,
        orphan_grace_s=60.0,
    )
    assert not os.path.isdir(claim)
    got = {r.id: r.v for r in table_store.read_state(spark, path).collect()}
    assert got == {3: "c"}


def test_merge_upsert_forwards_orphan_grace():
    """The multi-writer path must plumb the knob through to commit()."""
    import inspect

    from realtime_datawarehouse_spark.operators import table_store as ts

    for fn in (ts.commit, ts.merge_upsert):
        assert "orphan_grace_s" in inspect.signature(fn).parameters


def test_merge_upsert_empty_result_truncates(spark, tmp_path):
    """ADVICE r01 #5: a batch whose deletes remove every PK must commit an
    empty table, not leave the previous rows on disk."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "dim")
    ins = spark.createDataFrame(
        [("1", 1, "insert", "x")], "pk string, ts long, type string, val string"
    )
    dels = spark.createDataFrame(
        [("1", 2, "delete", "x")], "pk string, ts long, type string, val string"
    )
    table_store.merge_upsert(
        spark, ins, path, pk="pk", version_col="ts",
        delete_when=F.col("type") == "delete",
    )
    assert table_store.read_state(spark, path).count() == 1
    table_store.merge_upsert(
        spark, dels, path, pk="pk", version_col="ts",
        delete_when=F.col("type") == "delete",
    )
    emptied = table_store.read_state(spark, path)
    assert emptied is not None and emptied.count() == 0
    assert emptied.columns == ["pk", "ts", "type", "val"]


def test_append_sink_excludes_transient(spark, tmp_path):
    path = str(tmp_path / "appended")
    df = spark.createDataFrame([(1, "x")], "id int, tmp string")
    sinks.append_sink(df, path, transient_cols=["tmp"])
    sinks.append_sink(df, path, transient_cols=["tmp"])
    back = spark.read.parquet(path)
    assert back.columns == ["id"] and back.count() == 2


def _some_date(spark) -> str:
    from realtime_datawarehouse_spark.tables import table

    return (
        table(spark, SF_DIR, "orders")
        .select(F.date_format("o_orderdate", "yyyyMMdd").alias("d"))
        .groupBy("d")
        .count()
        .orderBy(F.desc("count"))
        .first()
        .d
    )


def test_gmv_endpoint_matches_oracle(spark, duck):
    from realtime_datawarehouse_spark.functions.compare import dsum_sql

    date = _some_date(spark)
    got = serving.gmv(spark, SF_DIR, date)
    exp = duck.execute(
        f"SELECT {dsum_sql('o_totalprice')} FROM orders "
        f"WHERE strftime(o_orderdate, '%Y%m%d') = '{date}'"
    ).fetchone()[0]
    assert got["status"] == 0
    assert abs(got["data"] - float(exp)) < 1e-6


def test_province_endpoint_matches_oracle(spark, duck):
    from realtime_datawarehouse_spark.functions.compare import dsum_sql

    date = _some_date(spark)
    got = serving.province_stats(spark, SF_DIR, date)
    exp = {
        name: val
        for name, val in duck.execute(
            f"SELECT n.n_name, {dsum_sql('o.o_totalprice')} "
            "FROM orders o "
            "JOIN customer c ON o.o_custkey = c.c_custkey "
            "JOIN nation n ON c.c_nationkey = n.n_nationkey "
            f"WHERE strftime(o.o_orderdate, '%Y%m%d') = '{date}' "
            "GROUP BY n.n_name"
        ).fetchall()
    }
    assert got["status"] == 0
    assert got["data"]["valueName"] == serving.VALUE_NAME
    got_map = {e["name"]: e["value"] for e in got["data"]["mapData"]}
    assert set(got_map) == set(exp)
    for k, v in exp.items():
        assert abs(got_map[k] - float(v)) < 1e-6


def test_segmenter_udf_slot(spark):
    """U1 pluggable segmenter: Arrow-batched UDF whose fallback agrees with
    the builtin tokenizer, so swapping in a real segmenter changes only the
    token boundaries, never the pipeline shape."""
    from realtime_datawarehouse_spark.functions.text import (
        make_segmenter_udf,
        tokenize,
    )
    from realtime_datawarehouse_spark.tables import table

    docs = table(spark, SF_DIR, "documents").limit(50)
    seg = make_segmenter_udf()
    a = docs.select("doc_id", F.explode(seg("text")).alias("tok"))
    b = docs.select("doc_id", F.explode(tokenize("text")).alias("tok"))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    plan = a._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan


def test_segmenter_cjk_forward_max_match(spark):
    """VERDICT r01 #4: the U1 slot is a REAL segmenter, not a whitespace
    stub — CJK text segments by longest dictionary match (FMM, the public
    form of IK's dictionary max-match), mixed-script runs keep latin words
    whole, and the full keyword pipeline (segment → explode → count ≡
    LATERAL TABLE(ik_analyze(...)) then tumble-count,
    DwsTrafficSourceKeywordPageViewWindow.java:55-69) produces the expected
    keyword histogram."""
    from realtime_datawarehouse_spark.functions.text import (
        fmm_segment,
        make_segmenter_udf,
        DEFAULT_CJK_DICT,
    )

    words = frozenset(DEFAULT_CJK_DICT)
    # longest match wins: 天安门 (3) beats any 2-char prefix; unknown CJK
    # chars fall back to singletons; ASCII runs stay whole and lowercase.
    assert fmm_segment("我爱北京天安门", words, 3) == ["我", "爱", "北京", "天安门"]
    assert fmm_segment("iPhone15手机 充电器!", words, 3) == [
        "iphone15", "手机", "充电器",
    ]

    rows = [
        ("s1", "苹果手机"),
        ("s2", "华为手机 充电器"),
        ("s3", "Apple 苹果 平板"),
    ]
    df = spark.createDataFrame(rows, "sid string, kw string")
    seg = make_segmenter_udf()
    got = {
        (r.keyword, r.cnt)
        for r in df.select(F.explode(seg("kw")).alias("keyword"))
        .groupBy("keyword")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert got == {
        ("苹果", 2), ("手机", 2), ("充电器", 1), ("华为", 1),
        ("apple", 1), ("平板", 1),
    }


def test_sql_view_surface(spark, monkeypatch):
    """Every operator output is addressable from plain spark.sql, and
    cross-view composition optimizes as one fused query. Each query's own
    view is checked where its per-query test builds it
    (test_correctness._assert_registry_guards), so register_query_views
    runs here over the registry narrowed to the two views the composition
    reads, and no query is built twice."""
    from realtime_datawarehouse_spark.plans import registry
    from realtime_datawarehouse_spark.serving import register_query_views

    queries = registry.get_queries()
    assert len(queries) >= 60
    composed = {
        n: queries[n] for n in ("tpch_q1_pricing_summary", "dedup_exact")
    }
    monkeypatch.setattr(registry, "get_queries", lambda: composed)
    names = register_query_views(spark, SF_DIR)
    assert names == list(composed)
    row = spark.sql(
        """
        SELECT q.l_returnflag, q.sum_qty, d.dup_ct
        FROM tpch_q1_pricing_summary q
        CROSS JOIN (SELECT count(*) AS dup_ct FROM dedup_exact) d
        ORDER BY q.l_returnflag, q.l_linestatus
        LIMIT 1
        """
    ).collect()[0]
    assert row.sum_qty > 0 and row.dup_ct > 0


def test_table_store_time_travel(spark, tmp_path):
    """The previous snapshot stays readable after a commit (bounded
    VERSION AS OF analog); unretained versions raise with the available
    list."""
    import pytest as _pytest

    path = str(tmp_path / "tt")
    v1 = table_store.commit(
        spark.createDataFrame([(1, "a")], "id int, v string"), path
    )
    v2 = table_store.commit(
        spark.createDataFrame([(2, "b")], "id int, v string"), path
    )
    assert table_store.list_versions(path) == [v1, v2]
    old = {r.id for r in table_store.read_state(spark, path, version=v1).collect()}
    new = {r.id for r in table_store.read_state(spark, path).collect()}
    assert (old, new) == ({1}, {2})
    v3 = table_store.commit(
        spark.createDataFrame([(3, "c")], "id int, v string"), path
    )
    assert table_store.list_versions(path) == [v2, v3]  # v1 GC'd
    with _pytest.raises(FileNotFoundError, match="not retained"):
        table_store.read_state(spark, path, version=v1)


def test_merge_upsert_schema_evolution(spark, tmp_path):
    """K5 dynamic-DDL analog: a batch carrying a NEW column evolves the
    stored schema inside the same atomic commit — old rows null-fill, and
    the widened schema is what subsequent readers see."""
    path = str(tmp_path / "evolving")
    b1 = spark.createDataFrame(
        [("1", 1, "x")], "pk string, ts long, val string"
    )
    table_store.merge_upsert(spark, b1, path, pk="pk", version_col="ts")
    b2 = spark.createDataFrame(
        [("2", 2, "y", "extra")],
        "pk string, ts long, val string, new_col string",
    )
    table_store.merge_upsert(
        spark, b2, path, pk="pk", version_col="ts", evolve_schema=True
    )
    got = {
        r.pk: (r.val, r.new_col)
        for r in table_store.read_state(spark, path).collect()
    }
    assert got == {"1": ("x", None), "2": ("y", "extra")}
    # without the flag, a mismatched batch fails loudly (no silent drop)
    b3 = spark.createDataFrame(
        [("3", 3, "z", "e", 1.0)],
        "pk string, ts long, val string, new_col string, another double",
    )
    import pytest as _pytest

    with _pytest.raises(Exception):
        table_store.merge_upsert(spark, b3, path, pk="pk", version_col="ts")


def test_concurrent_merge_upsert_no_lost_update(spark, tmp_path):
    """Optimistic concurrency (Delta-style MERGE serialization): writer B
    computes its merge against v1, writer A commits first, then B's
    conditional commit must CONFLICT (not silently discard A's rows), and
    B's retry — the merge_upsert loop — must land with BOTH writers'
    updates present."""
    import pytest

    from realtime_datawarehouse_spark.operators import table_store as ts
    from realtime_datawarehouse_spark.sources.kafka import latest_by_key

    path = str(tmp_path / "dim")
    base = spark.createDataFrame(
        [(1, "x", 1), (2, "y", 1)], "pk int, val string, ver int"
    )
    ts.commit(base, path)
    v1 = ts.current_version(path)

    # writer B: merge computed against v1 (pinned), NOT yet committed
    b_incoming = spark.createDataFrame([(2, "B", 2)], "pk int, val string, ver int")
    b_merged = latest_by_key(
        ts.read_state(spark, path, v1).unionByName(b_incoming), "pk", "ver"
    )

    # writer A commits first (same base)
    a_incoming = spark.createDataFrame([(1, "A", 2)], "pk int, val string, ver int")
    ts.merge_upsert(spark, a_incoming, path, pk="pk", version_col="ver")
    assert ts.current_version(path) != v1

    # B's conditional commit must conflict — a naive flip would erase A's row
    with pytest.raises(ts.ConcurrentCommitError):
        ts.commit(b_merged, path, expected_version=v1)

    # B retries through merge_upsert: recomputes against the new current
    ts.merge_upsert(spark, b_incoming, path, pk="pk", version_col="ver")
    rows = {
        (r.pk, r.val) for r in ts.read_state(spark, path).collect()
    }
    assert rows == {(1, "A"), (2, "B")}


def test_delete_when_null_predicate_keeps_rows(spark, tmp_path):
    """Regression (round-5 review): with evolve_schema=True and a
    delete_when over a column only the NEW batch carries, the stored
    rows' predicate is NULL — three-valued ~NULL would silently delete
    the whole pre-existing table; they must be KEPT. Ties on version_col
    must also deterministically favor the incoming row."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    b1 = spark.createDataFrame(
        [("1", 1, "keep-me"), ("2", 1, "also-keep")],
        "pk string, ts long, val string",
    )
    table_store.merge_upsert(spark, b1, path, pk="pk", version_col="ts")
    # new batch introduces the 'type' column and deletes pk=2
    b2 = spark.createDataFrame(
        [("2", 2, "x", "delete"), ("3", 2, "new", "insert")],
        "pk string, ts long, val string, type string",
    )
    table_store.merge_upsert(
        spark, b2, path, pk="pk", version_col="ts",
        delete_when=F.col("type") == "delete", evolve_schema=True,
    )
    rows = {
        r.pk: r.val for r in table_store.read_state(spark, path).collect()
    }
    assert rows == {"1": "keep-me", "3": "new"}

    # version tie: replayed batch (same ts) must replace, not lose
    b3 = spark.createDataFrame(
        [("3", 2, "replayed", "insert")],
        "pk string, ts long, val string, type string",
    )
    table_store.merge_upsert(
        spark, b3, path, pk="pk", version_col="ts",
        delete_when=F.col("type") == "delete", evolve_schema=True,
    )
    rows = {
        r.pk: r.val for r in table_store.read_state(spark, path).collect()
    }
    assert rows["3"] == "replayed"


def test_threaded_concurrent_writers(spark, tmp_path):
    """TRUE thread-level write concurrency (not an interleaved
    simulation): 8 writers MERGE disjoint PKs into the same table
    simultaneously. Every writer's row must be present at the end —
    conflicts and GC/claim races are absorbed by merge_upsert's bounded
    retry — and the final pointer must be a readable snapshot. This is
    the live exercise of the Delta-style serialization contract the
    docstrings claim (VERDICT r04 'missing' #3)."""
    from concurrent.futures import ThreadPoolExecutor

    from realtime_datawarehouse_spark.operators import table_store as ts

    n = 8
    # both retention regimes: sized-to-concurrency (clean conflicts) AND
    # the default window, which forces the GC-race classification path
    # (a writer's pinned base deleted mid-plan must retry, not raise)
    for label, retain in (("wide", n + 1), ("default", 2)):
        path = str(tmp_path / f"t_{label}")

        def write(i: int) -> None:
            df = spark.createDataFrame(
                [(i, f"w{i}", 1)], "pk int, val string, ver int"
            )
            ts.merge_upsert(
                spark, df, path, pk="pk", version_col="ver",
                retain=retain, attempts=8 * n,
            )

        with ThreadPoolExecutor(n) as ex:
            for r in ex.map(write, range(n)):
                pass  # re-raise any writer failure

        rows = {(r.pk, r.val) for r in ts.read_state(spark, path).collect()}
        assert rows == {(i, f"w{i}") for i in range(n)}, label
        # retention honored: flipped snapshots on disk stay bounded (an
        # in-flight claim dir may transiently add one)
        assert len(ts.list_versions(path)) <= retain + 1, label


@pytest.mark.parametrize("buckets", [None, 8], ids=["flat", "bucketed"])
def test_multiprocess_concurrent_writers(spark, tmp_path, buckets):
    """CROSS-PROCESS write concurrency: 3 separate OS processes — each
    with its own JVM and SparkSession (tools/mp_writer.py) — MERGE into
    the same table path simultaneously. The threaded test above shares
    one process; real lakehouse multi-writer concurrency does not. The
    O_EXCL lock file, mkdir claim token, and atomic pointer rename are
    kernel primitives, so the serialization contract must hold here too:
    every writer's disjoint PKs survive, and the PK contended by all
    three resolves to deterministic last-write-wins by version. The
    bucketed variant additionally races the zero-copy hardlink
    carry-forward against concurrent commits and GC."""
    import os
    import subprocess
    import sys

    from realtime_datawarehouse_spark.operators import table_store as ts

    path = str(tmp_path / "mp_table")
    script = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "mp_writer.py",
    )
    n_writers, n_batches = 3, 2
    extra = [] if buckets is None else [str(buckets)]
    procs = [
        subprocess.Popen(
            [sys.executable, script, path, str(i), str(n_batches)] + extra,
            stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT,
        )
        for i in range(n_writers)
    ]
    for p in procs:
        out, _ = p.communicate(timeout=600)
        assert p.returncode == 0, out.decode(errors="replace")[-2000:]

    state = {
        r.pk: (r.val, r.ver)
        for r in ts.read_state(spark, path).collect()
    }
    for i in range(n_writers):
        for b in range(n_batches):
            assert state[f"w{i}-b{b}"] == (f"w{i}", i * 1000 + b)
    top_writer, top_batch = n_writers - 1, n_batches - 1
    assert state["shared"] == (
        f"w{top_writer}b{top_batch}",
        top_writer * 1000 + top_batch,
    )
    assert len(state) == n_writers * n_batches + 1


def _bucket_dirs(vdir):
    import os

    return {
        e: sorted(
            f
            for f in os.listdir(os.path.join(vdir, e))
            if not f.startswith(("_", "."))
        )
        for e in os.listdir(vdir)
        if e.startswith("__bucket=")
    }


def test_bucketed_merge_parity_and_zero_copy(spark, tmp_path):
    """``buckets=N``: a small batch into a large table must (a) produce
    EXACTLY the state the flat full-rewrite path produces, and (b) carry
    every untouched bucket into the new snapshot as hardlinks (same
    inode) instead of rewriting it — merge cost O(batch), not O(table),
    the property that survives 100 TB dims (SCALE.md §20)."""
    import os

    from realtime_datawarehouse_spark.operators import table_store as ts

    seed = spark.range(1000).select(
        F.col("id").cast("string").alias("pk"),
        F.lit("v0").alias("val"),
        F.lit(1).alias("ver"),
    )
    batch = spark.createDataFrame(
        [("7", "NEW", 2), ("500", "NEW", 2), ("999", "NEW", 2)],
        "pk string, val string, ver int",
    )
    flat, buck = str(tmp_path / "flat"), str(tmp_path / "buck")
    for p, kw in ((flat, {}), (buck, {"buckets": 16})):
        ts.merge_upsert(spark, seed, p, pk="pk", version_col="ver", **kw)
    v1 = ts.current_version(buck)
    for p in (flat, buck):
        ts.merge_upsert(
            spark, batch, p, pk="pk", version_col="ver", retain=3
        )
    v2 = ts.current_version(buck)

    got_flat = {
        (r.pk, r.val, r.ver) for r in ts.read_state(spark, flat).collect()
    }
    got_buck = {
        (r.pk, r.val, r.ver) for r in ts.read_state(spark, buck).collect()
    }
    assert got_flat == got_buck and len(got_buck) == 1000

    # zero-copy: every untouched bucket's files are the SAME INODE as v1
    v1d, v2d = os.path.join(buck, v1), os.path.join(buck, v2)
    b1, b2 = _bucket_dirs(v1d), _bucket_dirs(v2d)
    shared = rewritten = 0
    for e, files in b2.items():
        if e in b1 and files == b1[e] and all(
            os.path.samefile(
                os.path.join(v1d, e, f), os.path.join(v2d, e, f)
            )
            for f in files
        ):
            shared += 1
        else:
            rewritten += 1
    # 3 pks touch at most 3 of 16 buckets; everything else is linked
    assert rewritten <= 3 and shared >= len(b2) - 3, (shared, rewritten)


def test_bucketed_merge_deletes_to_empty_table(spark, tmp_path):
    """All PKs deleted from a bucketed table: the committed snapshot has
    no data rows yet still reads back with the full schema (the
    ``__bucket=-1`` sentinel guarantees a parquet footer)."""
    from realtime_datawarehouse_spark.operators import table_store as ts

    path = str(tmp_path / "t")
    ins = spark.createDataFrame(
        [("1", 1, "insert"), ("2", 1, "insert")],
        "pk string, ver int, op string",
    )
    ts.merge_upsert(
        spark, ins, path, pk="pk", version_col="ver", buckets=8,
        delete_when=F.col("op") == "delete",
    )
    dels = spark.createDataFrame(
        [("1", 2, "delete"), ("2", 2, "delete")],
        "pk string, ver int, op string",
    )
    ts.merge_upsert(
        spark, dels, path, pk="pk", version_col="ver",
        delete_when=F.col("op") == "delete",
    )
    emptied = ts.read_state(spark, path)
    assert emptied.count() == 0
    assert emptied.columns == ["pk", "ver", "op"]
    # and the table comes back to life on the next insert
    ts.merge_upsert(
        spark,
        spark.createDataFrame([("3", 3, "insert")], "pk string, ver int, op string"),
        path, pk="pk", version_col="ver",
        delete_when=F.col("op") == "delete",
    )
    assert ts.read_state(spark, path).count() == 1


def test_bucket_spec_is_immutable(spark, tmp_path):
    """A second writer with a different pk or bucket count is a caller
    bug (ValueError), never a silent re-layout."""
    import pytest

    from realtime_datawarehouse_spark.operators import table_store as ts

    path = str(tmp_path / "t")
    df = spark.createDataFrame([("1", "a", 1)], "pk string, val string, ver int")
    ts.merge_upsert(spark, df, path, pk="pk", version_col="ver", buckets=8)
    with pytest.raises(ValueError):
        ts.merge_upsert(spark, df, path, pk="pk", version_col="ver", buckets=16)
    with pytest.raises(ValueError):
        ts.merge_upsert(spark, df, path, pk="val", version_col="ver")
    # same spec (or omitted) keeps working
    ts.merge_upsert(spark, df, path, pk="pk", version_col="ver", buckets=8)
    ts.merge_upsert(spark, df, path, pk="pk", version_col="ver")


def test_bucketed_compact_then_merge_rebuckets(spark, tmp_path):
    """compact() re-flattens a snapshot (it rewrites everything anyway);
    the NEXT merge must detect the flat layout, do one full partitioned
    rewrite, and return to pruned merges — with state intact throughout."""
    import os

    from realtime_datawarehouse_spark.operators import table_store as ts

    path = str(tmp_path / "t")
    seed = spark.range(100).select(
        F.col("id").cast("string").alias("pk"),
        F.lit("v0").alias("val"),
        F.lit(1).alias("ver"),
    )
    ts.merge_upsert(spark, seed, path, pk="pk", version_col="ver", buckets=8)
    ts.compact(spark, path, target_files=2)
    assert not ts._dir_is_bucketed(
        os.path.join(path, ts.current_version(path))
    )
    assert ts.read_state(spark, path).count() == 100
    batch = spark.createDataFrame(
        [("5", "NEW", 2)], "pk string, val string, ver int"
    )
    ts.merge_upsert(spark, batch, path, pk="pk", version_col="ver")
    vdir = os.path.join(path, ts.current_version(path))
    assert ts._dir_is_bucketed(vdir)  # re-bucketed on the way through
    got = {r.pk: r.val for r in ts.read_state(spark, path).collect()}
    assert got["5"] == "NEW" and len(got) == 100


def test_bucketed_evolve_schema_full_rewrite(spark, tmp_path):
    """An evolve_schema merge that actually widens falls back to one full
    partitioned rewrite (mixed per-bucket schemas would break the read)
    and subsequent same-schema merges prune again."""
    from realtime_datawarehouse_spark.operators import table_store as ts

    path = str(tmp_path / "t")
    ts.merge_upsert(
        spark,
        spark.createDataFrame([("1", "a", 1)], "pk string, val string, ver int"),
        path, pk="pk", version_col="ver", buckets=8,
    )
    wide = spark.createDataFrame(
        [("2", "b", 2, "extra")], "pk string, val string, ver int, note string"
    )
    ts.merge_upsert(
        spark, wide, path, pk="pk", version_col="ver", evolve_schema=True,
    )
    got = {r.pk: (r.val, r.note) for r in ts.read_state(spark, path).collect()}
    assert got == {"1": ("a", None), "2": ("b", "extra")}
    # same-schema follow-up merges cleanly on the widened table
    ts.merge_upsert(
        spark,
        spark.createDataFrame(
            [("1", "a2", 3, None)], "pk string, val string, ver int, note string"
        ),
        path, pk="pk", version_col="ver",
    )
    got = {r.pk: r.val for r in ts.read_state(spark, path).collect()}
    assert got == {"1": "a2", "2": "b"}


def test_multiprocess_writer_killed_mid_merge_heals(spark, tmp_path):
    """SIGKILL a real writer JVM mid-MERGE — wherever it happens to be:
    mid parquet write, mid flip-log append, between claim and flip, or
    holding the commit lock. The kill fires only after the victim has
    committed at least two versions (so it is past startup and actively
    merging). Afterwards the table must read back consistent (every row
    one the victim legitimately wrote), a fresh writer must heal past any
    debris — including a dead writer's stale lock — and commit normally."""
    import os
    import signal
    import subprocess
    import sys
    import time

    from realtime_datawarehouse_spark.operators import table_store as ts

    path = str(tmp_path / "t")
    seed = spark.createDataFrame(
        [("seed", "seed", 0)], "pk string, val string, ver long"
    )
    ts.merge_upsert(spark, seed, path, pk="pk", version_col="ver")

    script = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "mp_writer.py",
    )
    victim = subprocess.Popen(
        [sys.executable, script, path, "7", "200"],
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
    )
    try:
        base = ts.current_version(path)
        deadline = time.monotonic() + 240
        commits = 0
        while commits < 3:  # seed + at least 2 victim commits
            assert time.monotonic() < deadline, "victim never progressed"
            assert victim.poll() is None, "victim exited early"
            time.sleep(0.05)
            cur = ts.current_version(path)
            if cur != base:
                base, commits = cur, commits + 1
        victim.send_signal(signal.SIGKILL)
    finally:
        if victim.poll() is None:
            victim.kill()
        victim.wait(timeout=60)

    # consistency: every surviving row is one the victim legitimately wrote
    rows = ts.read_state(spark, path).collect()
    for r in rows:
        assert r.pk == "seed" or r.pk.startswith(("w7-b", "shared")), r
        if r.pk.startswith("w7-b"):
            assert r.val == "w7" and r.pk == f"w7-b{r.ver - 7000}", r

    # heal: a fresh writer commits past any debris (incl. a stale lock)
    healer = spark.createDataFrame(
        [("healed", "ok", 99_999)], "pk string, val string, ver long"
    )
    ts.merge_upsert(spark, healer, path, pk="pk", version_col="ver")
    final = {r.pk: r.val for r in ts.read_state(spark, path).collect()}
    assert final["healed"] == "ok" and final["seed"] == "seed"


def test_commit_retain_window_keeps_slow_writers_base_readable(
    spark, tmp_path
):
    """The retention knob: with retain=3, a reader/writer pinned TWO
    commits back can still read its base snapshot; with the default 2 it
    cannot (the documented single-cycle grace)."""
    import pytest

    from realtime_datawarehouse_spark.operators import table_store as ts

    df = spark.createDataFrame([(1, 1)], "pk int, ver int")
    wide = str(tmp_path / "wide")
    v1 = ts.commit(df, wide, retain=3)
    ts.commit(df, wide, retain=3)
    ts.commit(df, wide, retain=3)
    assert ts.read_state(spark, wide, v1).count() == 1  # v1 retained

    narrow = str(tmp_path / "narrow")
    v1 = ts.commit(df, narrow)
    ts.commit(df, narrow)
    ts.commit(df, narrow)
    with pytest.raises(FileNotFoundError):
        ts.read_state(spark, narrow, v1)


@pytest.mark.parametrize("buckets", [None, 8], ids=["flat", "bucketed"])
def test_concurrent_readers_see_whole_snapshots(spark, tmp_path, buckets):
    """The reader guarantee the atomic pointer flip exists for: while a
    writer churns commits (and GC deletes old versions, and — bucketed —
    hardlinks carry untouched buckets forward), every successful
    read_state must observe ONE complete committed snapshot, never a mix
    of two versions or a partial write. A read racing GC past the
    retention grace may fail (documented retain contract) — what it may
    never do is succeed with torn data."""
    from concurrent.futures import ThreadPoolExecutor

    from realtime_datawarehouse_spark.operators import table_store as ts

    path = str(tmp_path / "t")
    pks = 100
    n_commits = 8
    done = {"flag": False}
    torn: list[tuple] = []
    clean = {"n": 0}

    def write() -> None:
        try:
            for i in range(1, n_commits + 1):
                batch = spark.range(pks).select(
                    F.col("id").cast("string").alias("pk"),
                    F.lit(f"c{i}").alias("val"),
                    F.lit(i).alias("ver"),
                )
                ts.merge_upsert(
                    spark, batch, path, pk="pk", version_col="ver",
                    retain=4, buckets=buckets,
                )
        finally:
            done["flag"] = True

    def read() -> None:
        while not done["flag"] or clean["n"] < 3:
            try:
                df = ts.read_state(spark, path)
                if df is None:
                    continue
                rows = df.collect()
            except Exception:
                continue  # GC'd mid-read past the grace: allowed to fail
            if not rows:
                continue
            vals = {r.val for r in rows}
            if len(vals) != 1 or len(rows) != pks:
                torn.append((sorted(vals), len(rows)))
            else:
                clean["n"] += 1
            if done["flag"] and clean["n"] >= 3 and torn:
                break

    with ThreadPoolExecutor(3) as ex:
        futures = [ex.submit(write), ex.submit(read), ex.submit(read)]
        for f in futures:
            f.result(timeout=300)

    assert not torn, torn[:5]
    assert clean["n"] >= 3
    # final state is the last commit, whole
    final = {r.pk: r.val for r in ts.read_state(spark, path).collect()}
    assert set(final.values()) == {f"c{n_commits}"} and len(final) == pks


def test_flip_log_tail_covers_retention(spark, tmp_path, monkeypatch):
    """The arbiter log's prune keeps ``max(_COMMITS_KEEP_TAIL, retain +
    1)`` sequences — a retention window wider than the static tail must
    never demote a still-retained snapshot to the orphan path or break
    explicit-version time travel on it."""
    from realtime_datawarehouse_spark.operators import table_store as ts

    monkeypatch.setattr(ts, "_COMMITS_KEEP_TAIL", 2)
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 1)], "pk int, ver int")
    vs = [ts.commit(df, path, retain=5) for _ in range(8)]
    assert sorted(ts.LocalCASArbiter().committed(path)) == list(range(3, 9))
    # every snapshot inside the retention window stays committed AND
    # readable by explicit version despite aggressive log pruning
    for v in vs[-5:]:
        assert ts.read_state(spark, path, v).count() == 1
    assert len(ts.list_versions(path)) >= 5


@pytest.mark.parametrize("arbiter", ["local", "object"])
def test_table_directory_holds_one_commit_record(spark, tmp_path, arbiter):
    """The arbiter log is a table's only commit record: after flat and
    bucketed merges the table directory holds the retained ``v-*``
    snapshots, the local arbiter's ``_commits/`` and, when bucketed,
    ``_BUCKETING`` — nothing else. The object-store arbiter keeps its log
    in the store, so there the directory holds no ``_commits/`` either."""
    import os

    from realtime_datawarehouse_spark.operators import object_store

    ts = table_store
    prev = ts._ARBITER
    if arbiter == "object":
        ts.set_arbiter(
            object_store.ObjectStoreCASArbiter(
                object_store.InMemoryObjectStore()
            )
        )
    try:
        for buckets in (None, 4):
            path = str(tmp_path / f"buckets{buckets}")
            for i in range(3):
                ts.merge_upsert(
                    spark,
                    spark.createDataFrame([(str(i), i)], "pk string, ver int"),
                    path, pk="pk", version_col="ver", buckets=buckets,
                )
            snapshots = ts.list_versions(path)
            assert len(snapshots) == 2  # retain=2
            expected = set(snapshots)
            if arbiter == "local":
                expected.add("_commits")
                assert sorted(os.listdir(os.path.join(path, "_commits"))) == [
                    f"{s:010d}" for s in (1, 2, 3)
                ]
            if buckets:
                expected.add("_BUCKETING")
            assert set(os.listdir(path)) == expected
            assert ts.read_state(spark, path).count() == 3
    finally:
        ts.set_arbiter(prev)


def test_commit_claim_directories_never_collide(spark, tmp_path):
    """The version directory is the claim token: sequential commits claim
    strictly increasing names even when a stale empty claim dir exists
    (simulating a racer that claimed but hasn't flipped)."""
    import os

    from realtime_datawarehouse_spark.operators import table_store as ts

    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 1)], "pk int, ver int")
    v1 = ts.commit(df, path)
    # simulate a concurrent claim that hasn't committed yet
    os.mkdir(os.path.join(path, "v-0000000002"))
    v3 = ts.commit(df, path)
    assert v3 == "v-0000000003" and v1 == "v-0000000001"
    assert ts.current_version(path) == v3


# --------------------------------------------------------------------------
# Commit arbiter (VERDICT r6 item 3) + round-6 merge hardening (ADVICE r5)
# --------------------------------------------------------------------------


def test_cas_put_if_absent_single_winner(tmp_path):
    """The arbiter's conditional PUT is a true CAS: of N threads racing
    the same sequence number, exactly one wins, the committed content is
    the winner's (never torn or empty), and every loser observes False —
    the property the whole commit protocol rests on."""
    import threading

    arb = table_store.LocalCASArbiter()
    path = str(tmp_path)
    for seq in range(1, 4):
        wins = []
        barrier = threading.Barrier(8)

        def racer(i, seq=seq):
            barrier.wait()
            if arb.put_if_absent(path, seq, f"v-{i:010d}"):
                wins.append(i)

        threads = [
            threading.Thread(target=racer, args=(i,)) for i in range(8)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert len(wins) == 1, wins
        committed = arb.committed(path)
        assert committed[seq] == f"v-{wins[0]:010d}"
    assert sorted(arb.committed(path)) == [1, 2, 3]
    assert arb.head(path)[0] == 3


def test_arbiter_three_writer_stall_steal_interleave(spark, tmp_path):
    """VERDICT r6 item 3 "Done" criterion: the 3-writer stall+steal
    interleave that the POSIX lock could only narrow, forced
    deterministically. Writer A computes against the head and STALLS
    mid-commit (before its PUT) for an arbitrarily long time — under the
    old lock this is the stale-break window where a healer and the
    resumed holder could both enter the critical section. Writers B and C
    commit meanwhile. A resumes: its CAS must FAIL (the sequence is
    taken), it must raise ConcurrentCommitError, clean up its claim, and
    the commit log must be dense and single-valued — mutual exclusion is
    structural now, with no time-based judgement anywhere."""
    import os
    import threading

    ts = table_store
    path = str(tmp_path / "t")
    base = ts.commit(
        spark.createDataFrame([("0", 0)], "pk string, ver int"), path,
        retain=8,
    )

    stalled = threading.Event()
    release = threading.Event()
    result = {}

    def slow_writer(df, vdir):
        df.write.mode("append").parquet(vdir)
        stalled.set()
        assert release.wait(60)  # the stall: unbounded in principle

    def writer_a():
        try:
            ts.commit(
                spark.createDataFrame([("A", 1)], "pk string, ver int"),
                path, expected_version=base, retain=8, _writer=slow_writer,
            )
            result["a"] = "committed"
        except ts.ConcurrentCommitError:
            result["a"] = "conflict"

    ta = threading.Thread(target=writer_a)
    ta.start()
    assert stalled.wait(60)
    # B and C commit while A is stalled inside its commit call
    vb = ts.commit(
        spark.createDataFrame([("B", 2)], "pk string, ver int"),
        path, expected_version=base, retain=8,
    )
    vc = ts.commit(
        spark.createDataFrame([("C", 3)], "pk string, ver int"),
        path, expected_version=vb, retain=8,
    )
    release.set()
    ta.join(60)
    assert result["a"] == "conflict"  # the resumed writer CANNOT commit
    committed = ts.LocalCASArbiter().committed(path)
    assert sorted(committed) == [1, 2, 3]  # dense, no gaps, no doubles
    assert committed[2] == vb and committed[3] == vc
    assert ts.current_version(path) == vc
    # A's orphan claim was removed by its conflict path
    claims = set(ts._version_dirs(path))
    assert all(d in set(committed.values()) | {base} for d in claims)
    # no lock file of any kind was ever created
    assert not any("_COMMIT_LOCK" in f for f in os.listdir(path))
    assert ts.read_state(spark, path).orderBy("pk").collect()[-1].pk == "C"


def test_merge_retry_narrowed_to_gc_race_shapes(spark, tmp_path):
    """ADVICE r5 #3: only failure types a GC/claim race can produce are
    retried; a deterministic error surfaces on the FIRST attempt even if
    the table moved concurrently (no claim-dir debris, no recompute)."""
    ts = table_store
    assert ts._is_gc_race(FileNotFoundError("gone"))
    assert ts._is_gc_race(Exception(
        "[PATH_NOT_FOUND] Path does not exist: file:/x/v-1"))
    assert ts._is_gc_race(Exception(
        "java.io.FileNotFoundException: /x/v-1/part-0.parquet"))
    assert not ts._is_gc_race(ValueError("bad delete_when expression"))
    assert not ts._is_gc_race(Exception(
        "[NUM_COLUMNS_MISMATCH] unionByName: schema mismatch"))

    # integration: a deterministic failure propagates immediately even
    # when the table moves mid-merge (pre-fix code would recompute and
    # re-raise only after exhausting all attempts)
    path = str(tmp_path / "t")
    ts.merge_upsert(
        spark,
        spark.createDataFrame([("1", "a", 1)], "pk string, val string, ver int"),
        path, pk="pk", version_col="ver",
    )
    calls = {"n": 0}
    real_commit = ts.commit

    def moving_commit(df, p, **kw):
        calls["n"] += 1
        # another writer lands a version first, THEN our failure hits
        real_commit(
            spark.createDataFrame(
                [("9", "z", 9)], "pk string, val string, ver int"
            ), p,
        )
        raise ValueError("deterministic failure unrelated to GC")

    orig = ts.commit
    ts.commit = moving_commit
    try:
        with pytest.raises(ValueError, match="deterministic"):
            ts.merge_upsert(
                spark,
                spark.createDataFrame(
                    [("2", "b", 2)], "pk string, val string, ver int"
                ),
                path, pk="pk", version_col="ver", attempts=5,
            )
    finally:
        ts.commit = orig
    assert calls["n"] == 1  # no blind recompute loop


def test_bucketed_subset_schema_batch_keeps_pruned_path(spark, tmp_path):
    """ADVICE r5 #4: with evolve_schema=True, a batch merely MISSING
    stored columns (sparse dim update) must take the pruned O(batch) path
    — untouched buckets carried by hardlink — not a full rewrite; only a
    batch that WIDENS the schema forces the rewrite."""
    import os

    ts = table_store
    path = str(tmp_path / "t")
    seed = spark.range(400).select(
        F.col("id").cast("string").alias("pk"),
        F.lit("v0").alias("val"),
        F.lit("n0").alias("note"),
        F.lit(1).alias("ver"),
    )
    ts.merge_upsert(spark, seed, path, pk="pk", version_col="ver", buckets=8)
    v1 = ts.current_version(path)
    subset = spark.createDataFrame(
        [("7", "NEW", 2)], "pk string, val string, ver int"  # no `note`
    )
    ts.merge_upsert(
        spark, subset, path, pk="pk", version_col="ver",
        evolve_schema=True, retain=3,
    )
    v2 = ts.current_version(path)
    got = {r.pk: (r.val, r.note) for r in ts.read_state(spark, path).collect()}
    assert got["7"] == ("NEW", None)  # incoming wins, missing col nulled
    assert got["0"] == ("v0", "n0") and len(got) == 400
    # pruned path proof: at least one untouched bucket is the same inode
    v1d, v2d = os.path.join(path, v1), os.path.join(path, v2)
    shared = 0
    for e in os.listdir(v1d):
        if not e.startswith("__bucket=") or e.endswith("=-1"):
            continue
        f1 = sorted(
            f for f in os.listdir(os.path.join(v1d, e))
            if not f.startswith(("_", "."))
        )
        d2 = os.path.join(v2d, e)
        if os.path.isdir(d2) and all(
            os.path.exists(os.path.join(d2, f))
            and os.path.samefile(os.path.join(v1d, e, f), os.path.join(d2, f))
            for f in f1
        ):
            shared += 1
    assert shared >= 6, shared  # 1 pk touches ≤1 of 8 buckets


def test_arbiter_concurrent_overlap_commit_log_dense_and_lossless(
    spark, tmp_path
):
    """Supersedes the pre-r7 "unlocked worst case" test (whose damage
    bound was flip-log ORDERING, the best a broken lock could promise):
    with the CAS arbiter there is no lock to break, and the guarantee is
    strictly stronger — N writers x M unconditional commits racing freely
    produce a commit log that is DENSE (sequences 1..N*M, no gaps),
    SINGLE-VALUED (each sequence names exactly one version, each version
    committed exactly once), and the final head is the version named by
    the max sequence: a complete, readable snapshot. The ordering-only
    damage caveat is obsolete."""
    import threading

    ts = table_store
    path = str(tmp_path / "t")
    errs = []

    def writer(i):
        try:
            for j in range(4):
                ts.commit(
                    spark.createDataFrame(
                        [(f"{i}-{j}", i)], "pk string, w int"
                    ),
                    path, retain=2,
                )
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    committed = ts.LocalCASArbiter().committed(path)
    # prune keeps far more than 24 entries, so the full log is visible
    assert sorted(committed) == list(range(1, 25))  # dense: every commit won a unique seq
    assert len(set(committed.values())) == 24  # no version committed twice
    final = ts.current_version(path)
    assert final == committed[24]
    assert final in ts.list_versions(path)
    rows = ts.read_state(spark, path).collect()  # whole, readable snapshot
    assert len(rows) == 1 and rows[0].pk.count("-") == 1


def test_arbiter_crashed_claim_is_harmless_and_pruned(spark, tmp_path):
    """A writer that dies BETWEEN writing its temp claim and the hardlink
    (the only window a crash can leave residue in) must leave the
    protocol fully functional: the orphaned .claim file blocks nothing —
    other writers commit straight past it — is NOT a committed sequence,
    and ages out via prune's 60 s grace, while fresh claims survive."""
    import os
    import time

    ts = table_store
    path = str(tmp_path / "t")
    ts.commit(
        spark.createDataFrame([("0", 0)], "pk string, ver int"), path
    )
    arb = ts._ARBITER
    d = arb._dir(path)
    orphan = os.path.join(d, ".claim.99999.1")
    with open(orphan, "w", encoding="utf-8") as f:
        f.write("v-crashed")
    fresh = os.path.join(d, ".claim.99999.2")
    with open(fresh, "w", encoding="utf-8") as f:
        f.write("v-inflight")

    # commits proceed past the orphan, and it never becomes a commit
    ts.commit(
        spark.createDataFrame([("1", 1)], "pk string, ver int"), path
    )
    committed = arb.committed(path)
    assert "v-crashed" not in committed.values()
    assert len(committed) >= 2

    # a young claim survives prune; an aged one is collected
    arb.prune(path, keep_newest=8)
    assert os.path.exists(orphan) and os.path.exists(fresh)
    past = time.time() - 120
    os.utime(orphan, (past, past))
    arb.prune(path, keep_newest=8)
    assert not os.path.exists(orphan) and os.path.exists(fresh)
    # and the table still reads whole (latest snapshot = second commit)
    assert [r.pk for r in ts.read_state(spark, path).collect()] == ["1"]


def test_put_if_absent_survives_pruned_temp_mid_stall(tmp_path, monkeypatch):
    """Code-review r7 finding: a writer stalled between staging its temp
    claim and the hardlink for longer than _CLAIM_GRACE_S can find the
    temp collected by a concurrent committer's prune. That must NOT
    surface FileNotFoundError (a third outcome the protocol forbids):
    put_if_absent re-stages and retries — winning if the sequence is
    still free, reporting a plain CAS loss if it was taken meanwhile."""
    import os

    arb = table_store.LocalCASArbiter()
    path = str(tmp_path)
    real_link = os.link
    calls = {"n": 0}

    def stalled_link(src, dst):
        # first attempt: simulate prune collecting the temp during the
        # stall, exactly as the kernel would surface it
        calls["n"] += 1
        if calls["n"] == 1:
            os.unlink(src)
            raise FileNotFoundError(src)
        return real_link(src, dst)

    monkeypatch.setattr(os, "link", stalled_link)
    assert arb.put_if_absent(path, 1, "v-a") is True
    assert calls["n"] == 2  # one pruned attempt + one clean retry
    assert arb.committed(path) == {1: "v-a"}

    # same stall, but another writer took the sequence meanwhile: the
    # resumed writer sees an ordinary CAS loss
    calls["n"] = 0

    def stalled_then_taken(src, dst):
        calls["n"] += 1
        if calls["n"] == 1:
            os.unlink(src)
            real_link_tmp = os.path.join(os.path.dirname(dst), ".other")
            with open(real_link_tmp, "w", encoding="utf-8") as f:
                f.write("v-b")
            real_link(real_link_tmp, dst)
            os.unlink(real_link_tmp)
            raise FileNotFoundError(src)
        return real_link(src, dst)

    monkeypatch.setattr(os, "link", stalled_then_taken)
    assert arb.put_if_absent(path, 2, "v-c") is False
    assert arb.committed(path)[2] == "v-b"


def test_arbiter_head_tolerates_foreign_names_and_read_errors(
    tmp_path, monkeypatch
):
    """Code-review r7 follow-ups on the O(1) head(): (a) a digit-named
    sequence file that is NOT canonical 10-digit form (foreign tool,
    manual repair) must be served, not spun on forever; (b) a transient
    non-FNF read error degrades to the full committed() scan instead of
    propagating."""
    import builtins
    import os

    arb = table_store.LocalCASArbiter()
    path = str(tmp_path)
    assert arb.put_if_absent(path, 1, "v-a")
    # (a) foreign, non-padded name with a HIGHER sequence
    with open(os.path.join(path, "_commits", "7"), "w", encoding="utf-8") as f:
        f.write("v-foreign")
    assert arb.head(path) == (7, "v-foreign")

    # (b) transient EACCES on the max-sequence read → fall back to scan
    real_open = builtins.open
    tripped = {"n": 0}

    def flaky_open(f, *a, **k):
        if str(f).endswith(os.path.join("_commits", "7")) and not tripped["n"]:
            tripped["n"] = 1
            raise PermissionError(f)
        return real_open(f, *a, **k)

    monkeypatch.setattr(builtins, "open", flaky_open)
    assert arb.head(path) == (7, "v-foreign")  # degraded via committed()
    assert tripped["n"] == 1


def test_commit_refuses_to_publish_a_collected_snapshot(spark, tmp_path):
    """Code-review r7 finding: a writer stalled past orphan_grace_s whose
    UNCOMMITTED snapshot dir was collected by a concurrent committer's GC
    must NOT publish its sequence (the head would name deleted data).
    Force the interleave: the snapshot dir vanishes while the writer is
    losing a CAS round — the retry must raise ConcurrentCommitError, and
    the table must still read whole at the survivor's version."""
    import shutil

    ts = table_store
    path = str(tmp_path / "t")
    ts.commit(spark.createDataFrame([("0", 0)], "pk string, ver int"), path)

    real_put = ts._ARBITER.put_if_absent
    state = {"n": 0}

    def gc_steals_then_loses(p, seq, version):
        state["n"] += 1
        if state["n"] == 1:
            # concurrent committer takes the sequence AND its GC collects
            # this writer's aged claim dir
            assert real_put(p, seq, "v-racer")
            shutil.rmtree(
                __import__("os").path.join(path, version), ignore_errors=True
            )
            return False
        return real_put(p, seq, version)

    import pytest as _pytest

    try:
        ts._ARBITER.put_if_absent = gc_steals_then_loses
        with _pytest.raises(ts.ConcurrentCommitError, match="orphan"):
            ts.commit(
                spark.createDataFrame([("1", 1)], "pk string, ver int"), path
            )
    finally:
        ts._ARBITER.put_if_absent = real_put
    # head names the racer's sequence; it has no data dir in this forced
    # setup, but the stalled writer's ghost was NOT published — and a
    # fresh commit proceeds normally past the debris
    ts.commit(spark.createDataFrame([("2", 2)], "pk string, ver int"), path)
    assert [r.pk for r in ts.read_state(spark, path).collect()] == ["2"]


def test_arbiter_scans_ignore_unicode_digit_names(tmp_path):
    """ADVICE r7: str.isdigit() is True for non-decimal Unicode digits
    ('²') where int() raises — a foreign-named file in _commits/ (or a
    'v-²' dir in the table) must be IGNORED by every listdir scan, not
    crash the hot-path head() the code was hardened to tolerate."""
    import os

    arb = table_store.LocalCASArbiter()
    path = str(tmp_path)
    assert arb.put_if_absent(path, 1, "v-a")
    with open(
        os.path.join(path, "_commits", "²"), "w", encoding="utf-8"
    ) as f:
        f.write("v-bogus")
    assert arb.head(path) == (1, "v-a")
    assert arb.committed(path) == {1: "v-a"}
    arb.prune(path, keep_newest=8)  # must not raise
    os.makedirs(os.path.join(path, "v-²"))
    assert table_store._version_dirs(path) == []


def test_prune_unlinks_foreign_nonpadded_sequence(tmp_path):
    """ADVICE r7: prune() used to unlink by the re-formatted zero-padded
    name, so a foreign non-padded sequence file ('7' — which head()
    deliberately serves) was never pruned and accumulated forever. It
    must be dropped by its LISTED name once outside the retention
    window, while a duplicate spelling of a KEPT sequence survives."""
    import os

    arb = table_store.LocalCASArbiter()
    path = str(tmp_path)
    for s in range(1, 11):
        assert arb.put_if_absent(path, s, f"v-{s:010d}")
    d = os.path.join(path, "_commits")
    with open(os.path.join(d, "7"), "w", encoding="utf-8") as f:
        f.write("v-foreign-dup-of-7")  # duplicate spelling of seq 7
    with open(os.path.join(d, "2"), "w", encoding="utf-8") as f:
        f.write("v-foreign-dup-of-2")
    arb.prune(path, keep_newest=2)
    kept = sorted(os.listdir(d))
    assert kept == ["0000000009", "0000000010"], kept
    # and a duplicate spelling of a kept sequence is kept with it
    with open(os.path.join(d, "10"), "w", encoding="utf-8") as f:
        f.write("v-foreign-dup-of-10")
    arb.prune(path, keep_newest=2)
    assert sorted(os.listdir(d)) == ["0000000009", "0000000010", "10"]


def test_gc_rename_aside_sweeps_crashed_leftovers(spark, tmp_path):
    """ADVICE r7 (TOCTOU hardening): orphan GC renames a claim dir aside
    atomically before rmtree, so no pre-PUT isdir check can observe a
    half-deleted tree. A crashed GC's leftover .gc.* dir must be swept
    by the next commit, and an aged orphan claim must still be
    collected end-to-end."""
    import os
    import time

    ts = table_store
    path = str(tmp_path / "t")
    ts.commit(spark.createDataFrame([("0", 0)], "pk string, ver int"), path)
    # crashed GC residue: rename happened, rmtree never finished
    leftover = os.path.join(path, ".gc.1.2.v-0000000042")
    os.makedirs(os.path.join(leftover, "sub"))
    # an aged orphan claim (crashed writer)
    orphan = os.path.join(path, "v-0000000099")
    os.makedirs(orphan)
    past = time.time() - 7200
    os.utime(orphan, (past, past))
    ts.commit(spark.createDataFrame([("1", 1)], "pk string, ver int"), path)
    assert not os.path.exists(leftover)
    assert not os.path.exists(orphan)
    assert not [e for e in os.listdir(path) if e.startswith(".gc.")]
    assert [r.pk for r in ts.read_state(spark, path).collect()] == ["1"]


def test_commit_post_cas_ghost_heals_by_revert(spark, tmp_path):
    """ADVICE r7: if orphan GC collects a claim in the µs window BETWEEN
    the pre-PUT isdir check and the winning CAS, the committed head
    names deleted data. commit() now re-verifies after winning and
    self-heals by committing a revert to the previous head, surfacing
    a loud ConcurrentCommitError — readers land back on consistent
    data instead of FileNotFoundError."""
    import os
    import shutil

    import pytest as _pytest

    ts = table_store
    path = str(tmp_path / "t")
    v1 = ts.commit(
        spark.createDataFrame([("0", 0)], "pk string, ver int"), path
    )
    real_put = ts._ARBITER.put_if_absent
    fired = {"done": False}

    def gc_wins_after_check(p, seq, version, _real=real_put):
        # simulate GC collecting the claim AFTER commit()'s pre-PUT
        # isdir check but BEFORE the PUT lands — the advisor's window
        if not fired["done"] and p == path and version != v1:
            fired["done"] = True
            shutil.rmtree(os.path.join(p, version), ignore_errors=True)
        return _real(p, seq, version)

    try:
        ts._ARBITER.put_if_absent = gc_wins_after_check
        with _pytest.raises(ts.ConcurrentCommitError, match="reverted"):
            ts.commit(
                spark.createDataFrame([("1", 1)], "pk string, ver int"),
                path,
            )
    finally:
        ts._ARBITER.put_if_absent = real_put
    # the head was healed back to v1 and reads stay consistent
    assert ts.current_version(path) == v1
    assert [r.pk for r in ts.read_state(spark, path).collect()] == ["0"]
    # and the table accepts fresh commits afterwards
    ts.commit(spark.createDataFrame([("2", 2)], "pk string, ver int"), path)
    assert [r.pk for r in ts.read_state(spark, path).collect()] == ["2"]
