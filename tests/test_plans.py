"""Physical-plan quality gates — the 100 TB checklist from the brief:
filters reach the parquet scan, column pruning works, small dims
broadcast, relational stages stay in WholeStageCodegen."""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet").where(
        F.col("lang") == "en"
    ).select("doc_id")
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "EqualTo(lang,en)" in plan.replace(" ", "")


def test_column_pruning(spark):
    df = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey")
    plan = _plan(df)
    # ReadSchema carries only the projected column
    rs = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in rs and "l_extendedprice" not in rs


def test_broadcast_join_for_small_dim(spark):
    o = spark.read.parquet(f"{SF}/orders.parquet")
    c = spark.read.parquet(f"{SF}/customer.parquet")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    assert "BroadcastHashJoin" in _plan(j)


def test_wholestage_codegen_relational(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    agg = li.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    # map-side combine (partial_sum) before the exchange
    pre = _plan(agg)
    assert "partial_sum" in pre
    agg.collect()  # finalize the adaptive plan
    final = _plan(agg)
    # '*(n)' prefixes mark WholeStageCodegen stages in the final plan;
    # AQE also coalesced the shuffle read (adaptive sizing, north rule)
    assert "*(1)" in final and "*(2)" in final
    assert "AQEShuffleRead" in final


def test_geocode_stays_jvm_side(spark):
    """The geocode stage must not contain any Python eval node."""
    from spapy_spark.operators import geocode

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    geo = geocode.geocode_coords(docs).where(F.col("lat").isNotNull())
    plan = _plan(geo)
    assert "Python" not in plan  # no BatchEvalPython / ArrowEvalPython
    assert "PushedFilters" in plan


def test_pip_probe_is_arrow_not_pandas(spark):
    """The PIP probe runs as a single Arrow-native python map stage
    directly over the pruned scan (no extra exchange before it)."""
    from spapy_spark.operators import pip
    from spapy_spark.sources import synth

    pts = spark.range(100).select(
        F.col("id").alias("point_id"),
        (F.col("id") % 90 - 45.0).cast("double").alias("lat"),
        (F.col("id") % 180 - 90.0).cast("double").alias("lon"),
    )
    out = pip.pip_join_broadcast(pts, synth.zones(spark),
                                 point_cols=["point_id"])
    plan = _plan(out)
    assert "MapInArrow" in plan or "PythonMapInArrow" in plan
    assert "Exchange" not in plan  # narrow: no shuffle anywhere


def test_cell_join_shuffles_on_cell(spark):
    """The big-big cell join hash-partitions both sides on the integer
    cell key (the explicit-partitioning requirement of the north
    rule)."""
    from spapy_spark.operators import pip
    from spapy_spark.sources import synth

    pts = spark.range(1000).select(
        F.col("id").alias("point_id"),
        (F.col("id") % 90 - 45.0).cast("double").alias("lat"),
        (F.col("id") % 180 - 90.0).cast("double").alias("lon"),
    )
    out = pip.pip_join_cells(pts, synth.zones(spark), res=6,
                             point_cols=["point_id"])
    plan = _plan(out)
    # Catalyst broadcasts the small side at test scale — the join key
    # must be the integer cell either way
    assert "Join [cell" in plan or "join [cell" in plan.lower()
    # at scale (broadcast disabled) both sides hash-partition on cell
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out2 = pip.pip_join_cells(pts, synth.zones(spark), res=6,
                                  point_cols=["point_id"])
        assert "hashpartitioning(cell" in _plan(out2)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def _children(node) -> list:
    ch = node.children()
    return [ch.apply(i) for i in range(ch.size())]


def _nodes(node) -> list:
    out = [node]
    for c in _children(node):
        out += _nodes(c)
    return out


def _python_nodes(nodes) -> list:
    return [n for n in nodes if any(
        k in n.nodeName() for k in ("Python", "MapIn", "ArrowEval", "FlatMap"))]


def test_cell_join_ships_only_integers(spark, tmp_path):
    """No polygon (BinaryType) column enters either join input or the
    refine's Python input; nothing is cached; the refine is the plan's
    only Python node."""
    from spapy_spark.operators import pip
    from spapy_spark.sources import synth

    path = str(tmp_path / "pts")
    spark.range(1000).select(
        F.col("id").alias("point_id"),
        (F.col("id") % 90 - 45.0).cast("double").alias("lat"),
        (F.col("id") % 180 - 90.0).cast("double").alias("lon"),
    ).write.parquet(path)
    pts = spark.read.parquet(path)
    for salt in (1, 4):
        out = pip.pip_join_cells(pts, synth.zones(spark), res=6, salt=salt,
                                 point_cols=["point_id"])
        qe = out._jdf.queryExecution()
        nodes = _nodes(qe.sparkPlan())
        joins = [n for n in nodes if "Join" in n.nodeName()]
        assert len(joins) == 1
        for side in _children(joins[0]):
            assert "binary" not in side.schema().json()
        py = _python_nodes(nodes)
        assert len(py) == 1 and "MapInArrow" in py[0].nodeName()
        assert "binary" not in _children(py[0])[0].schema().json()
        assert "InMemoryTableScan" not in _plan(out)


def test_synth_fixtures_are_local_relations(spark):
    """synth.zones / synth.sites scan a local relation (no Python RDD
    job per collect) and hold the rows and schema of their _pdf twins."""
    from spapy_spark.sources import synth

    def norm(row):
        return tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v
                     for v in row)

    for df, pdf, ddl in (
        (synth.zones(spark), synth.zones_pdf(), synth.ZONES_SCHEMA),
        (synth.sites(spark), synth.sites_pdf(), synth.SITES_SCHEMA),
    ):
        plan = _plan(df)
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan
        assert df.schema == spark.createDataFrame([], ddl).schema
        assert [norm(r) for r in df.collect()] == \
            [norm(r) for r in pdf.itertuples(index=False, name=None)]


def test_partitioned_layout_prunes(spark, tmp_path):
    """Iceberg-style layout: spatial + temporal partition pruning must
    reach the scan as PartitionFilters (directories skipped, not rows
    filtered)."""
    from pyspark.sql import functions as F

    from spapy_spark.operators import geocode
    from spapy_spark.sources import layout, synth

    docs = geocode.geocode_coords(synth.webpages(spark, 5000, partitions=4))
    path = str(tmp_path / "docs_part")
    layout.write_documents(docs, path)
    t = layout.read_documents(spark, path)
    # spatial prune: Seattle-area bbox
    cells = layout.cells_for_bbox(-125.0, 45.0, -120.0, 50.0)
    q = t.where(F.col("p_cell").isin(cells)).select("url")
    plan = _plan(q)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "p_cell" in pf  # pruning happens at directory level
    n_spatial = q.count()
    assert 0 < n_spatial < 5000
    # temporal prune
    q2 = t.where(F.col("p_date") == "2024-01-01").select("url")
    pf2 = [l for l in _plan(q2).splitlines() if "PartitionFilters" in l][0]
    assert "p_date" in pf2
    # correctness: the pruned spatial read equals a full-scan filter
    full = geocode.geocode_coords(synth.webpages(spark, 5000, partitions=4))
    want = full.where(
        F.col("lat").between(45.0, 50.0) & F.col("lon").between(-125.0, -120.0)
    ).count()
    got = t.where(F.col("p_cell").isin(cells)).where(
        F.col("lat").between(45.0, 50.0) & F.col("lon").between(-125.0, -120.0)
    ).count()
    assert got == want  # covering cells are a superset: no false negatives


def test_bucketed_join_no_exchange(spark, tmp_path):
    # bucketed storage → co-located equi-join: NO Exchange in the
    # physical plan (both sides pre-shuffled at write time); aggregation
    # on the bucket key likewise reuses the bucketing
    from spapy_spark.sources import layout

    a = spark.range(0, 10000).selectExpr("id AS k", "id * 3 AS va")
    b = spark.range(0, 10000).selectExpr("id AS k", "id * 7 AS vb")
    layout.write_bucketed(a, "bk_a", 8, "k", path=str(tmp_path / "a"))
    layout.write_bucketed(b, "bk_b", 8, "k", path=str(tmp_path / "b"))
    try:
        ta = layout.read_table(spark, "bk_a")
        tb = layout.read_table(spark, "bk_b")
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = ta.join(tb, "k")
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan
            assert j.count() == 10000
            g = ta.groupBy("k").count()
            gplan = g._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in gplan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_a")
        spark.sql("DROP TABLE IF EXISTS bk_b")
