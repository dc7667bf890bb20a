"""Driver oracle queries for the graph-analytics operator family:
fixed-point PageRank over the entity co-mention graph and IVF k-means
embedding clustering.

Both operators are iterative; both are made oracle-checkable by doing
every iteration in exact integer arithmetic (see
:mod:`web.graphrank` / :mod:`ops.ivf`) and unrolling the same fixed
number of iterations as chained CTEs in the DuckDB SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mhdb_tables2turtles_spark.ops.ivf import (
    MICRO,
    ivf_search,
    kmeans_fit,
    kmeans_fit_assign,
    quantize,
)
from mhdb_tables2turtles_spark.web.graphrank import (
    SCALE,
    pagerank_fixed,
    triangle_counts,
)

__all__ = ["GRAPH_QUERIES", "graph_oracles"]

_PR_ITERS = 5
_PR_MIN_DOCS = 2

_IVF_K = 8
_IVF_ITERS = 2
_IVF_DIM = 64


def q_kg_pagerank(spark, sf_dir):
    """Integer fixed-point PageRank (web/graphrank.py) over co-mention
    edges with n_docs >= 2."""
    from mhdb_tables2turtles_spark.queries import q_kg_cooccurrence

    edges = (
        q_kg_cooccurrence(spark, sf_dir)
        .filter(F.col("n_docs") >= _PR_MIN_DOCS)
        .select(F.col("term_a").alias("src"), F.col("term_b").alias("dst"))
    )
    return pagerank_fixed(edges, iterations=_PR_ITERS)


def _sql_pagerank(cooc_sql: str) -> str:
    base = (15 * SCALE) // 100
    parts = [
        f"""with e0 as (
            select term_a, term_b from ({cooc_sql}) where n_docs >= {_PR_MIN_DOCS}
        ),
        e as (select term_a as u, term_b as v from e0
              union all select term_b, term_a from e0),
        deg as (select u, count(*) as d from e group by u),
        r0 as (select distinct u as node, {SCALE}::bigint as pr from e)"""
    ]
    for i in range(1, _PR_ITERS + 1):
        parts.append(
            f"""r{i} as (
            select e.v as node,
                   {base} + sum((85 * r{i-1}.pr) // (100 * deg.d)) as pr
            from e join r{i-1} on e.u = r{i-1}.node
                   join deg on deg.u = e.u
            group by e.v)"""
        )
    return (
        ",\n".join(parts)
        + f"\nselect node, pr::bigint as pr from r{_PR_ITERS}"
    )


def q_embed_ivf(spark, sf_dir):
    """IVF index construction: deterministic integer k-means
    (ops/ivf.py), final cell assignment per vector."""
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )
    return kmeans_fit_assign(
        vecs, k=_IVF_K, iterations=_IVF_ITERS, dim=_IVF_DIM
    )


def _sql_ivf() -> str:
    """Unrolled Lloyd iterations: quantize -> seeds -> (assign ->
    update) x iters -> final assign."""
    dist = (
        "list_sum(list_transform(generate_series(1, {dim}), "
        "i -> (q.v[i] - c.c[i]) * (q.v[i] - c.c[i])))"
    ).format(dim=_IVF_DIM)
    assign = """a{n} as (
        select vec_id, v, cluster, dist2 from (
            select q.vec_id, q.v, c.cluster, {dist} as dist2,
                   row_number() over (
                       partition by q.vec_id order by {dist}, c.cluster
                   ) as rn
            from q, c{m} c
        ) where rn = 1
    )"""
    update = """m{n} as (
        select cluster, i, cast(floor(sum(v[i]) / count(*)) as bigint) as m
        from a{n}, unnest(generate_series(1, {dim})) u(i)
        group by cluster, i
    ),
    c{n} as (select cluster, list(m order by i) as c from m{n} group by cluster)"""

    parts = [
        f"""with q as (
        select vec_id,
               list_transform(embedding,
                   x -> cast(round(cast(x as double) * {MICRO}) as bigint)) as v
        from embeddings
    ),
    c0 as (
        select rn - 1 as cluster, v as c from (
            select vec_id, v, row_number() over (
                order by ('0x'||substr(md5(vec_id::varchar),1,15))::bigint,
                         vec_id
            ) as rn from q
        ) where rn <= {_IVF_K}
    )"""
    ]
    for it in range(1, _IVF_ITERS + 1):
        parts.append(assign.format(n=it, m=it - 1, dist=dist))
        parts.append(update.format(n=it, dim=_IVF_DIM))
    parts.append(assign.format(n=_IVF_ITERS + 1, m=_IVF_ITERS, dist=dist))
    return (
        ",\n".join(parts)
        + f"\nselect vec_id, cluster, dist2::bigint as dist2 from a{_IVF_ITERS + 1}"
    )


_SEARCH_Q = 3  # query vectors: first 3 by (md5-hash, vec_id)
_SEARCH_PROBES = 2
_SEARCH_TOPK = 5


def q_embed_ivf_search(spark, sf_dir):
    """IVF probe search (ops/ivf.py::ivf_search): fit the same index as
    embed_ivf, then top-k rerank inside each query's 2 nearest cells."""
    from mhdb_tables2turtles_spark.ops.common import hash60

    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )
    q = quantize(vecs).cache()
    centroids = kmeans_fit(q, k=_IVF_K, iterations=_IVF_ITERS, dim=_IVF_DIM)
    # distributed top-k (TakeOrderedAndProject), NOT a row_number over an
    # unpartitioned Window: the global window sorts the entire vector
    # table on one task, which is exactly the shape that dies at scale —
    # the 3 smallest (hash, id) keys are the same rows either way
    qrows = (
        q.orderBy(hash60(F.col("vec_id").cast("string")), "vec_id")
        .limit(_SEARCH_Q)
        .select("vec_id", "v")
        .collect()
    )
    queries = [(r.vec_id, [int(x) for x in r.v]) for r in qrows]
    return ivf_search(
        q, centroids, queries, probes=_SEARCH_PROBES, topk=_SEARCH_TOPK
    )


def _sql_ivf_search() -> str:
    """The _sql_ivf CTE chain + probe selection + in-cell exact rerank."""
    body = _sql_ivf()
    # reuse everything up to the final select over a{iters+1}
    ctes = body[: body.rindex("\nselect vec_id, cluster")]
    a_final = f"a{_IVF_ITERS + 1}"
    c_final = f"c{_IVF_ITERS}"
    qdist = (
        "list_sum(list_transform(generate_series(1, {dim}), "
        "i -> (qs.qv[i] - c.c[i]) * (qs.qv[i] - c.c[i])))"
    ).format(dim=_IVF_DIM)
    vdist = (
        "list_sum(list_transform(generate_series(1, {dim}), "
        "i -> (cand.v[i] - cand.qv[i]) * (cand.v[i] - cand.qv[i])))"
    ).format(dim=_IVF_DIM)
    return f"""{ctes},
    qs as (
        select vec_id as q_id, v as qv from (
            select vec_id, v, row_number() over (
                order by ('0x'||substr(md5(vec_id::varchar),1,15))::bigint,
                         vec_id
            ) as rn from q
        ) where rn <= {_SEARCH_Q}
    ),
    qprobe as (
        select q_id, cluster from (
            select qs.q_id, c.cluster,
                   row_number() over (
                       partition by qs.q_id order by {qdist}, c.cluster
                   ) as pr
            from qs, {c_final} c
        ) where pr <= {_SEARCH_PROBES}
    ),
    cand as (
        select qprobe.q_id, a.vec_id, a.v, qs.qv
        from qprobe
        join {a_final} a using (cluster)
        join qs using (q_id)
    ),
    scored as (
        select q_id, vec_id, {vdist}::bigint as dist2 from cand
    )
    select q_id, vec_id, dist2, rank from (
        select *, row_number() over (
            partition by q_id order by dist2, vec_id
        ) as rank from scored
    ) where rank <= {_SEARCH_TOPK}
"""


def q_events_asof(spark, sf_dir):
    """As-of join (ops/asof.py): every click event picks up the user's
    most recent prior-or-simultaneous purchase.  The oracle is DuckDB's
    NATIVE ASOF JOIN — an authoritative semantic reference, not a
    hand-rolled mirror."""
    from mhdb_tables2turtles_spark.ops.asof import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    return asof_join(
        clicks, purchases, keys=["user_id"], time_col="ts",
        value_cols=["value"],
    )


_RANGE_WINDOW_US = 3_600_000_000  # purchases within 1 hour after a click


def q_events_range_join(spark, sf_dir):
    """Banded interval join (ops/asof.py::range_join): every
    (click, purchase) pair per user with the purchase 0..1h after the
    click — bucketed equi-join, NOT the nested-loop plan Catalyst gives
    a bare inequality join.  Output times as epoch-µs longs."""
    from mhdb_tables2turtles_spark.ops.asof import range_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("value").alias("p_value")
    )
    j = range_join(
        clicks, purchases, keys=["user_id"], left_time="ts",
        right_time="p_ts", lower_us=0, upper_us=_RANGE_WINDOW_US,
    )
    epoch = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
    return j.select(
        "event_id",
        "user_id",
        F.expr(f"timestampdiff(MICROSECOND, {epoch}, ts)").alias("click_us"),
        F.expr(f"timestampdiff(MICROSECOND, {epoch}, p_ts)").alias(
            "purchase_us"
        ),
        "p_value",
    )


_SQL_EVENTS_RANGE = f"""
    with l as (select event_id, user_id, ts from events
               where event_type = 'click'),
    r as (select user_id, ts, value from events
          where event_type = 'purchase')
    select l.event_id, l.user_id,
           epoch_us(l.ts) as click_us,
           epoch_us(r.ts) as purchase_us,
           r.value as p_value
    from l join r on l.user_id = r.user_id
     and epoch_us(r.ts) - epoch_us(l.ts) between 0 and {_RANGE_WINDOW_US}
"""


_SQL_EVENTS_ASOF = """
    with l as (select event_id, user_id, ts from events
               where event_type = 'click'),
    r as (select user_id, ts, value from events
          where event_type = 'purchase')
    select l.event_id, l.user_id, l.ts,
           r.value as value_asof, r.ts as ts_asof
    from l asof left join r
      on l.user_id = r.user_id and l.ts >= r.ts
"""


def q_kg_triangles(spark, sf_dir):
    """Triangle counts per entity in the co-mention graph
    (web/graphrank.py::triangle_counts)."""
    from mhdb_tables2turtles_spark.queries import q_kg_cooccurrence

    edges = (
        q_kg_cooccurrence(spark, sf_dir)
        .filter(F.col("n_docs") >= _PR_MIN_DOCS)
        .select(F.col("term_a").alias("src"), F.col("term_b").alias("dst"))
    ).localCheckpoint(eager=False)
    return triangle_counts(edges)


def _sql_triangles(cooc_sql: str) -> str:
    return f"""
    with e as (
        select term_a as a, term_b as b from ({cooc_sql})
        where n_docs >= {_PR_MIN_DOCS}
    ),
    tri as (
        select ab.a, ab.b, bc.b as c
        from e ab
        join e bc on ab.b = bc.a
        join e ac on ac.a = ab.a and ac.b = bc.b
    ),
    corners as (select a as node from tri
                union all select b from tri
                union all select c from tri)
    select node, count(*) as n_triangles from corners group by node
"""


_BFS_SEEDS = ("spark",)  # seed entity for the hop query
_BFS_MAX_HOPS = 3


def q_kg_hops(spark, sf_dir):
    """BFS shortest-hop distances from a seed entity over the co-mention
    graph (web/graphrank.py::bfs_hops) — integer min-plus iteration,
    engine-exact."""
    from mhdb_tables2turtles_spark.web.graphrank import bfs_hops

    edges = (
        q_kg_cooccurrence_edges(spark, sf_dir)
    ).localCheckpoint(eager=False)
    sources = spark.createDataFrame([(s,) for s in _BFS_SEEDS], ["node"])
    return bfs_hops(edges, sources, max_hops=_BFS_MAX_HOPS)


def q_kg_cooccurrence_edges(spark, sf_dir):
    from mhdb_tables2turtles_spark.queries import q_kg_cooccurrence

    return (
        q_kg_cooccurrence(spark, sf_dir)
        .filter(F.col("n_docs") >= _PR_MIN_DOCS)
        .select(F.col("term_a").alias("src"), F.col("term_b").alias("dst"))
    )


def _sql_bfs(cooc_sql: str) -> str:
    seeds = ", ".join(f"('{s}', 0)" for s in _BFS_SEEDS)
    parts = [
        f"""with e0 as (
            select term_a, term_b from ({cooc_sql})
            where n_docs >= {_PR_MIN_DOCS}
        ),
        e as (select term_a as u, term_b as v from e0
              union all select term_b, term_a from e0),
        d0(node, hops) as (select * from (values {seeds}) t(n, h))"""
    ]
    for i in range(1, _BFS_MAX_HOPS + 1):
        parts.append(
            f"""d{i} as (
            select node, min(hops) as hops from (
                select node, hops from d{i-1}
                union all
                select e.v, d{i-1}.hops + 1 from e
                join d{i-1} on e.u = d{i-1}.node
            ) group by node)"""
        )
    return (
        ",\n".join(parts)
        + f"\nselect node, cast(hops as int) as hops from d{_BFS_MAX_HOPS}"
    )


_LPA_ITERS = 3


def q_kg_lpa(spark, sf_dir):
    """Deterministic label-propagation communities over the co-mention
    graph (web/graphrank.py::label_propagation)."""
    from mhdb_tables2turtles_spark.web.graphrank import label_propagation

    edges = q_kg_cooccurrence_edges(spark, sf_dir).localCheckpoint(
        eager=False
    )
    return label_propagation(edges, iterations=_LPA_ITERS)


def _sql_lpa(cooc_sql: str) -> str:
    parts = [
        f"""with e0 as (
            select term_a, term_b from ({cooc_sql})
            where n_docs >= {_PR_MIN_DOCS}
        ),
        e as (select term_a as u, term_b as v from e0
              union all select term_b, term_a from e0),
        l0 as (select distinct u as node, u as label from e)"""
    ]
    for i in range(1, _LPA_ITERS + 1):
        parts.append(
            f"""l{i} as (
            select node, label from (
                select e.v as node, l{i-1}.label,
                       row_number() over (
                           partition by e.v
                           order by count(*) desc, l{i-1}.label
                       ) as rk
                from e join l{i-1} on e.u = l{i-1}.node
                group by e.v, l{i-1}.label
            ) where rk = 1)"""
        )
    return (
        ",\n".join(parts)
        + f"\nselect node, label as community from l{_LPA_ITERS}"
    )


def q_kg_link_predict(spark, sf_dir):
    """Common-neighbors / Jaccard link prediction over the co-mention
    graph (web/graphrank.py::link_predict) — KG-completion candidates
    for non-adjacent entity pairs.

    The synthetic vocabulary co-mention graph is complete (every term
    pair co-occurs), which leaves no pair to predict — so the fixture
    deterministically drops ~2/3 of the edges by md5 hash (the same
    self-contained-fixture device as the PII decoration); the operator
    under test is unchanged."""
    from mhdb_tables2turtles_spark.ops.common import hash60
    from mhdb_tables2turtles_spark.web.graphrank import link_predict

    edges = (
        q_kg_cooccurrence_edges(spark, sf_dir)
        .filter(
            hash60(F.concat_ws(" ", F.col("src"), F.col("dst"))) % 3 == 0
        )
        .localCheckpoint(eager=False)
    )
    return link_predict(edges)


def _sql_link_predict(cooc_sql: str) -> str:
    return f"""
    with e0 as (
        select term_a, term_b from ({cooc_sql})
        where n_docs >= {_PR_MIN_DOCS}
          and ('0x'||substr(md5(term_a||' '||term_b),1,15))::BIGINT % 3 = 0
    ),
    e as (select term_a as u, term_b as v from e0
          union all select term_b, term_a from e0),
    deg as (select u, count(*) as deg from e group by u),
    wedges as (
        select a.v as a, b.v as b, count(*) as n_common
        from e a join e b on a.u = b.u
        where a.v < b.v
        group by a.v, b.v
    ),
    cand as (
        select w.* from wedges w
        anti join (select least(term_a, term_b) as a,
                          greatest(term_a, term_b) as b from e0) x
        using (a, b)
    )
    select cand.a as node_a, cand.b as node_b, cand.n_common,
           cast((10000 * cand.n_common)
                // (da.deg + db.deg - cand.n_common) as bigint) as jaccard_bp
    from cand
    join deg da on da.u = cand.a
    join deg db on db.u = cand.b
"""


# ------------------------------------------------- triple-table queries

# star BGP: docs that mention ALL THREE of spark/join/hash (as minted
# by kg_triples' IRI kernel), returning every triple of each match
_STAR_PATTERNS = [
    (":mentions", ":Spark"),
    (":mentions", ":Join"),
    (":mentions", ":Hash"),
]


def q_kg_star_join(spark, sf_dir):
    """Star Basic Graph Pattern over the materialized triple table
    (web/kgquery.py::bgp_star): one aggregation + one semi-join instead
    of the naive P-1 self-joins."""
    from mhdb_tables2turtles_spark.queries import q_kg_triples
    from mhdb_tables2turtles_spark.web.kgquery import bgp_star

    # bgp_star consumes the triple table twice (hit-set agg + semi-join
    # probe); materialize it once so the mention scan runs once
    triples = q_kg_triples(spark, sf_dir).localCheckpoint(eager=False)
    return bgp_star(triples, _STAR_PATTERNS)


def _sql_star(triples_sql: str) -> str:
    hit = " or ".join(
        f"(predicate = '{p}' and object = '{o}')" for p, o in _STAR_PATTERNS
    )
    return f"""
    with t as ({triples_sql}),
    hit as (
        select subject from t
        where {hit}
        group by subject
        having count(distinct predicate || '|' || object)
               = {len(_STAR_PATTERNS)}
    )
    select t.subject, t.predicate, t.object
    from t where t.subject in (select subject from hit)
"""


def q_kg_triple_diff(spark, sf_dir):
    """Snapshot diff (web/kgquery.py::triple_diff) between two simulated
    crawl snapshots: the base snapshot saw docs with doc_id % 3 != 2,
    the re-crawl sees doc_id % 3 != 0 — most pages shared, some dropped,
    some new, so all three statuses appear.  Triples are minted with
    the same IRI kernel as kg_triples, WITHOUT pre-distincting each
    side: the diff's own presence-flag aggregation collapses duplicates
    map-side, saving a shuffle per snapshot."""
    from mhdb_tables2turtles_spark.functions import udfs
    from mhdb_tables2turtles_spark.queries import _mention_counts
    from mhdb_tables2turtles_spark.web.kgquery import triple_diff

    # both snapshots filter the SAME scan output; materialize it once
    m = _mention_counts(spark, sf_dir).localCheckpoint(eager=False)

    def mint(side):
        return side.select(
            udfs.iri(
                F.concat(F.lit("doc "), F.col("doc_id").cast("string")),
                "delimited",
            ).alias("subject"),
            F.lit(":mentions").alias("predicate"),
            udfs.iri(F.col("term"), "PascalCase").alias("object"),
        )

    old = mint(m.filter(F.col("doc_id") % 3 != 2))
    new = mint(m.filter(F.col("doc_id") % 3 != 0))
    return triple_diff(old, new)


def _sql_triple_diff(mentions_sql: str) -> str:
    mint = (
        "select ':doc_'||doc_id as subject, ':mentions' as predicate, "
        "':'||upper(term[1])||term[2:] as object from m"
    )
    return f"""
    with m as ({mentions_sql}),
    o as ({mint} where doc_id % 3 != 2),
    n as ({mint} where doc_id % 3 != 0),
    u as (select *, 1 as f_o, 0 as f_n from o
          union all select *, 0, 1 from n)
    select subject, predicate, object,
           case when max(f_o) = 1 and max(f_n) = 1 then 'kept'
                when max(f_n) = 1 then 'added'
                else 'removed' end as status
    from u group by subject, predicate, object
"""


_KCORE_K = 3
_KCORE_ROUNDS = 4


def q_kg_kcore(spark, sf_dir):
    """k-core decomposition (web/graphrank.py::kcore) of the co-mention
    graph with n_docs >= 2 edges: members of the 3-core and their
    in-core degree after 4 unrolled peel rounds (tests assert a 5th
    round is a no-op on the fixture)."""
    from mhdb_tables2turtles_spark.queries import q_kg_cooccurrence
    from mhdb_tables2turtles_spark.web.graphrank import kcore

    edges = (
        q_kg_cooccurrence(spark, sf_dir)
        .filter(F.col("n_docs") >= _PR_MIN_DOCS)
        .select(F.col("term_a").alias("src"), F.col("term_b").alias("dst"))
    )
    return kcore(edges, k=_KCORE_K, rounds=_KCORE_ROUNDS)


def _sql_kcore(cooc_sql: str) -> str:
    parts = [
        f"""with e0raw as (
            select term_a, term_b from ({cooc_sql})
            where n_docs >= {_PR_MIN_DOCS}
        ),
        e0 as (select term_a as u, term_b as v from e0raw
               union all select term_b, term_a from e0raw)"""
    ]
    for i in range(1, _KCORE_ROUNDS + 1):
        parts.append(
            f"""k{i} as (select u from e{i-1} group by u
                     having count(*) >= {_KCORE_K}),
        e{i} as (select e.u, e.v from e{i-1} e
                 join k{i} a on e.u = a.u
                 join k{i} b on e.v = b.u)"""
        )
    return (
        ",\n".join(parts)
        + f"""
    select u as node, cast(count(*) as bigint) as core_degree
    from e{_KCORE_ROUNDS} group by u
"""
    )


# upsert-compaction cutoff: 2024-01-20T00:00:00 as epoch-microseconds
# (events fixtures span all of Jan 2024 at every sf)
_SNAPSHOT_CUTOFF_US = 1_705_708_800_000_000


def q_events_snapshot(spark, sf_dir):
    """Upsert-compaction (web/kgquery.py::latest_state): the latest
    (value, ts, event id) per (user, event_type) as of a fixed cutoff —
    the read-side view of a merge-on-read changelog, as ONE max_by
    aggregation (no window sort).  Times as epoch-µs longs (the NTZ
    recipe every temporal oracle here uses)."""
    from mhdb_tables2turtles_spark.web.kgquery import latest_state

    epoch = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        "event_type",
        "event_id",
        "value",
        F.expr(f"timestampdiff(MICROSECOND, {epoch}, ts)").alias("ts_us"),
    )
    state = latest_state(
        ev.filter(F.col("ts_us") <= _SNAPSHOT_CUTOFF_US),
        keys=["user_id", "event_type"],
        order_cols=["ts_us", "event_id"],
        value_cols=["event_id", "ts_us", "value"],
    )
    return state.select(
        "user_id",
        "event_type",
        F.col("event_id").alias("last_event_id"),
        F.col("ts_us").alias("last_ts_us"),
        F.col("value").alias("last_value"),
    )


_SQL_EVENTS_SNAPSHOT = f"""
    with s as (
        select user_id, event_type, event_id, value, epoch_us(ts) as ts_us
        from events where epoch_us(ts) <= {_SNAPSHOT_CUTOFF_US}
    )
    select user_id, event_type,
           event_id as last_event_id,
           ts_us as last_ts_us,
           value as last_value
    from (select *, row_number() over (
              partition by user_id, event_type
              order by ts_us desc, event_id desc) as rn from s)
    where rn = 1
"""


# --------------------------------------- round-4: incremental + analytics


def q_kg_components_incremental(spark, sf_dir):
    """Incremental canonicalization
    (web/canonicalize.py::merge_components): prev labels = connected
    components over the 'old crawl' co-mention edges (even n_docs),
    then the 'new crawl' batch (odd n_docs) is merged in — only the
    touched components re-propagate.  The merge is provably identical
    to a from-scratch CC over ALL edges, which is exactly what the
    oracle computes (recursive-CTE transitive closure), so the oracle
    checks the incremental path's equivalence guarantee itself."""
    from mhdb_tables2turtles_spark.queries import q_kg_cooccurrence
    from mhdb_tables2turtles_spark.web.canonicalize import (
        connected_components,
        merge_components,
    )

    # checkpoint the edge list once: the even/odd splits and both CC
    # loops otherwise each re-run the document mention scan upstream
    e = (
        q_kg_cooccurrence(spark, sf_dir)
        .filter(F.col("n_docs") >= _PR_MIN_DOCS)
        .localCheckpoint(eager=False)
    )

    def sel(df):
        return df.select(
            F.col("term_a").alias("src"), F.col("term_b").alias("dst")
        )

    prev = connected_components(sel(e.filter(F.col("n_docs") % 2 == 0)))
    return merge_components(prev, sel(e.filter(F.col("n_docs") % 2 == 1)))


def _sql_components_incremental(cooc_sql: str) -> str:
    return f"""
    with recursive e0 as (
        select term_a, term_b from ({cooc_sql})
        where n_docs >= {_PR_MIN_DOCS}
    ),
    e as (select term_a as u, term_b as v from e0
          union select term_b, term_a from e0),
    nodes as (select distinct u as node from e),
    reach(node, r) as (
        select node, node from nodes
        union
        select reach.node, e.v from reach join e on reach.r = e.u
    )
    select node, min(r) as component from reach group by node
"""


_CHAIN_MIN_DOCS = 3

# IRI mint twin of the queries.py kernel for single-token vocab terms
_SQL_TERM_IRI_A = "':'||upper(term_a[1])||term_a[2:]"
_SQL_TERM_IRI_B = "':'||upper(term_b[1])||term_b[2:]"


def _mention_plus_cooc_triples(spark, sf_dir, min_docs=_CHAIN_MIN_DOCS):
    """Triple table for the BGP-family queries: doc :mentions entity
    rows plus symmetric entity :coOccursWith entity rows from strong
    co-occurrence — built from ONE checkpointed mention scan (the
    naive composition of q_kg_triples + q_kg_cooccurrence runs the
    token-index document pass twice)."""
    from mhdb_tables2turtles_spark.functions import udfs
    from mhdb_tables2turtles_spark.queries import _mention_counts

    m = (
        _mention_counts(spark, sf_dir)
        .select("doc_id", "term")
        .distinct()
        .localCheckpoint(eager=False)
    )
    mention = m.select(
        udfs.iri(
            F.concat(F.lit("doc "), F.col("doc_id").cast("string")),
            "delimited",
        ).alias("subject"),
        F.lit(":mentions").alias("predicate"),
        udfs.iri(F.col("term"), "PascalCase").alias("object"),
    ).distinct()
    a, b = m.alias("a"), m.alias("b")
    cooc = (
        a.join(b, "doc_id")
        .filter(F.col("a.term") < F.col("b.term"))
        .groupBy(
            F.col("a.term").alias("term_a"), F.col("b.term").alias("term_b")
        )
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )

    def mint(x, y):
        return cooc.select(
            udfs.iri(F.col(x), "PascalCase").alias("subject"),
            F.lit(":coOccursWith").alias("predicate"),
            udfs.iri(F.col(y), "PascalCase").alias("object"),
        )

    return mention.unionByName(mint("term_a", "term_b")).unionByName(
        mint("term_b", "term_a")
    )


def q_kg_chain_join(spark, sf_dir):
    """Property-path chain BGP (web/kgquery.py::bgp_chain):
    ``?doc :mentions ?e . ?e :coOccursWith ?e2`` — expand each page's
    entities one hop through the co-mention graph (the 'related
    entities' query a KG consumer runs).  The entity→entity triples
    are minted from strong co-occurrence edges with the same IRI
    kernel as the mention triples."""
    from mhdb_tables2turtles_spark.web.kgquery import bgp_chain

    triples = _mention_plus_cooc_triples(spark, sf_dir)
    return bgp_chain(triples, [":mentions", ":coOccursWith"]).select(
        F.col("x0").alias("doc"),
        F.col("x1").alias("entity"),
        F.col("x2").alias("related"),
    )


def _sql_chain(cooc_sql: str, triples_sql: str) -> str:
    return f"""
    with c as (
        select term_a, term_b from ({cooc_sql})
        where n_docs >= {_CHAIN_MIN_DOCS}
    ),
    ee as (select {_SQL_TERM_IRI_A} as s, {_SQL_TERM_IRI_B} as o from c
           union all
           select {_SQL_TERM_IRI_B}, {_SQL_TERM_IRI_A} from c),
    m as (select subject as doc, object as entity from ({triples_sql})
          where predicate = ':mentions')
    select distinct m.doc, m.entity, ee.o as related
    from m join ee on m.entity = ee.s
"""


def q_kg_clustering(spark, sf_dir):
    """Local clustering coefficient per entity of the strong co-mention
    graph, as integer basis points: ``lcc_bp = 20000 * triangles div
    (deg * (deg - 1))`` — a pure composition of
    :func:`~mhdb_tables2turtles_spark.web.graphrank.triangle_counts`
    and a degree aggregation (nodes with deg >= 2).  Integer division
    keeps the value engine-exact for the oracle."""
    from mhdb_tables2turtles_spark.queries import q_kg_cooccurrence
    from mhdb_tables2turtles_spark.web.graphrank import triangle_counts

    edges = (
        q_kg_cooccurrence(spark, sf_dir)
        .filter(F.col("n_docs") >= _PR_MIN_DOCS)
        .select(F.col("term_a").alias("src"), F.col("term_b").alias("dst"))
    ).localCheckpoint(eager=False)
    deg = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
        .filter(F.col("degree") >= 2)
    )
    tri = triangle_counts(edges)
    return deg.join(tri, "node", "left").select(
        "node",
        "degree",
        F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
        F.expr(
            "(20000 * coalesce(n_triangles, 0)) div (degree * (degree - 1))"
        ).alias("lcc_bp"),
    )


def _sql_clustering(cooc_sql: str) -> str:
    return f"""
    with e as (
        select term_a as a, term_b as b from ({cooc_sql})
        where n_docs >= {_PR_MIN_DOCS}
    ),
    deg as (
        select node, count(*) as degree
        from (select a as node from e union all select b from e)
        group by node having count(*) >= 2
    ),
    tri as (
        select ab.a, ab.b, bc.b as c
        from e ab
        join e bc on ab.b = bc.a
        join e ac on ac.a = ab.a and ac.b = bc.b
    ),
    corners as (select a as node from tri
                union all select b from tri
                union all select c from tri),
    t as (select node, count(*) as n_triangles from corners group by node)
    select deg.node, deg.degree,
           coalesce(t.n_triangles, 0) as n_triangles,
           (20000 * coalesce(t.n_triangles, 0))
               // (deg.degree * (deg.degree - 1)) as lcc_bp
    from deg left join t on deg.node = t.node
"""


def q_kg_edge_lift(spark, sf_dir):
    """Association strength (lift, the exp-PMI) per co-mention edge in
    integer basis points: ``lift_bp = (n_ab * n_docs * 10000) div
    (n_a * n_b)`` where n_a/n_b are per-term document frequencies and
    n_docs the corpus size — the edge-weighting step before pruning a
    co-occurrence graph to significant pairs.  All-integer fixed point
    (no libm log in the hash path, same discipline as lm_surprise);
    the corpus count joins in as a 1-row broadcast cross join."""
    from mhdb_tables2turtles_spark.queries import (
        _mention_counts,
        q_kg_cooccurrence,
    )

    # one scan feeds the document-frequency branch AND the co-mention
    # join (q_kg_cooccurrence re-distincts + checkpoints internally)
    mentions = _mention_counts(spark, sf_dir).localCheckpoint(eager=False)
    m = mentions.select("doc_id", "term").distinct()
    df = m.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .agg(F.count("*").alias("n_docs"))
    )
    e = q_kg_cooccurrence(spark, sf_dir, mentions=mentions).filter(
        F.col("n_docs") >= _PR_MIN_DOCS
    ).withColumnRenamed("n_docs", "n_ab")
    return (
        e.join(F.broadcast(df.withColumnRenamed("term", "term_a")
                           .withColumnRenamed("df", "df_a")), "term_a")
        .join(F.broadcast(df.withColumnRenamed("term", "term_b")
                          .withColumnRenamed("df", "df_b")), "term_b")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term_a",
            "term_b",
            "n_ab",
            F.expr("(n_ab * n_docs * 10000) div (df_a * df_b)").alias(
                "lift_bp"
            ),
        )
    )


def _sql_edge_lift(cooc_sql: str, mentions_sql: str) -> str:
    return f"""
    with m as (select distinct doc_id, term from ({mentions_sql})),
    df as (select term, count(*) as df from m group by term),
    n as (select count(*) as n_docs from documents),
    e as (select term_a, term_b, n_docs as n_ab from ({cooc_sql})
          where n_docs >= {_PR_MIN_DOCS})
    select e.term_a, e.term_b, e.n_ab,
           (e.n_ab * n.n_docs * 10000) // (a.df * b.df) as lift_bp
    from e
    join df a on e.term_a = a.term
    join df b on e.term_b = b.term
    cross join n
"""


def q_kg_degree_hist(spark, sf_dir):
    """Log2-bucketed degree distribution of the co-mention graph: one
    row per bucket with node count — the sanity plot every web-graph
    build runs first.  The bucket is ``floor(log2(degree))`` computed
    as ``length(bin(degree)) - 1`` (binary-string length), exact
    integer logic on both engines — never libm ``log2``, whose
    rounding at exact powers of two is not portable."""
    from mhdb_tables2turtles_spark.queries import q_kg_cooccurrence

    # the unionAll consumes the co-mention join twice; materialize it
    e = q_kg_cooccurrence(spark, sf_dir).localCheckpoint(eager=False)
    deg = (
        e.select(F.col("term_a").alias("term"))
        .unionAll(e.select(F.col("term_b").alias("term")))
        .groupBy("term")
        .agg(F.count("*").alias("degree"))
    )
    return (
        deg.select(
            (F.length(F.bin(F.col("degree"))) - 1).cast("long").alias(
                "log2_bucket"
            )
        )
        .groupBy("log2_bucket")
        .agg(F.count("*").alias("n_nodes"))
    )


def _sql_degree_hist(cooc_sql: str) -> str:
    return f"""
    with e as ({cooc_sql}),
    deg as (
        select term, count(*) as degree
        from (select term_a as term from e union all select term_b from e)
        group by term
    )
    select cast(length(bin(degree)) - 1 as bigint) as log2_bucket,
           count(*) as n_nodes
    from deg group by 1
"""


def q_kg_bgp_compile(spark, sf_dir):
    """General BGP compiler (web/kgquery.py::compile_bgp) on a
    three-pattern, three-variable query — 'docs mentioning :Spark, each
    of their mentioned entities, and entities co-occurring with those':
    ``?d :mentions :Spark . ?d :mentions ?e . ?e :coOccursWith ?f``."""
    from mhdb_tables2turtles_spark.web.kgquery import compile_bgp

    triples = _mention_plus_cooc_triples(spark, sf_dir)
    return compile_bgp(
        triples,
        [
            ("?d", ":mentions", ":Spark"),
            ("?d", ":mentions", "?e"),
            ("?e", ":coOccursWith", "?f"),
        ],
    )


def _sql_bgp_compile(cooc_sql: str, triples_sql: str) -> str:
    return f"""
    with t as ({triples_sql}),
    c as (select term_a, term_b from ({cooc_sql})
          where n_docs >= {_CHAIN_MIN_DOCS}),
    ee as (select {_SQL_TERM_IRI_A} as s, {_SQL_TERM_IRI_B} as o from c
           union all
           select {_SQL_TERM_IRI_B}, {_SQL_TERM_IRI_A} from c),
    p1 as (select subject as d from t
           where predicate = ':mentions' and object = ':Spark'),
    p2 as (select subject as d, object as e from t
           where predicate = ':mentions')
    select distinct p1.d, p2.e, ee.o as f
    from p1 join p2 on p1.d = p2.d
    join ee on p2.e = ee.s
"""


def q_kg_construct_rule(spark, sf_dir):
    """SPARQL CONSTRUCT (web/kgquery.py::construct): derive a
    ':relatedTo' graph — ``CONSTRUCT { ?d :relatedTo ?f . ?d a
    :ExpandedDoc } WHERE { ?d :mentions ?e . ?e :coOccursWith ?f }`` —
    the inference-rule / graph-reshaping primitive over the same
    triple construction as kg_bgp_compile."""
    from mhdb_tables2turtles_spark.web.kgquery import construct

    triples = _mention_plus_cooc_triples(spark, sf_dir)
    return construct(
        triples,
        where=[("?d", ":mentions", "?e"), ("?e", ":coOccursWith", "?f")],
        template=[
            ("?d", ":relatedTo", "?f"),
            ("?d", "a", ":ExpandedDoc"),
        ],
    )


def _sql_construct(cooc_sql: str, triples_sql: str) -> str:
    return f"""
    with t as ({triples_sql}),
    c as (select term_a, term_b from ({cooc_sql})
          where n_docs >= {_CHAIN_MIN_DOCS}),
    ee as (select {_SQL_TERM_IRI_A} as s, {_SQL_TERM_IRI_B} as o from c
           union all
           select {_SQL_TERM_IRI_B}, {_SQL_TERM_IRI_A} from c),
    b as (select distinct t.subject as d, ee.o as f
          from t join ee on t.object = ee.s
          where t.predicate = ':mentions')
    select distinct subject, predicate, object from (
        select d as subject, ':relatedTo' as predicate, f as object from b
        union all
        select d, 'a', ':ExpandedDoc' from b
    )
"""


_PT_PREDICATES = [":mentions", ":mentionsOften"]
_OFTEN_MIN_N = 3  # per-doc mention count for the :mentionsOften predicate


def _often_triples(spark, sf_dir, with_types: bool = False):
    """Two-predicate triple fixture shared by the property-table,
    OPTIONAL, UNION and MINUS queries: every mention as ``:mentions``
    plus frequent (n >= 3) mentions as ``:mentionsOften``, minted with
    the same IRI kernel as kg_triples — built from ONE checkpointed
    mention scan.  ``with_types`` appends ``(entity, a, :Entity)`` rows
    for ~2/3 of the vocabulary (hash-selected — the rest are
    deliberately untyped so sh:class violations exist to find)."""
    from mhdb_tables2turtles_spark.functions import udfs
    from mhdb_tables2turtles_spark.ops.common import hash60
    from mhdb_tables2turtles_spark.queries import _mention_counts

    m = _mention_counts(spark, sf_dir).localCheckpoint(eager=False)

    def mint(side, pred):
        return side.select(
            udfs.iri(
                F.concat(F.lit("doc "), F.col("doc_id").cast("string")),
                "delimited",
            ).alias("subject"),
            F.lit(pred).alias("predicate"),
            udfs.iri(F.col("term"), "PascalCase").alias("object"),
        )

    out = mint(m, ":mentions").unionByName(
        mint(m.filter(F.col("n") >= _OFTEN_MIN_N), ":mentionsOften")
    )
    if with_types:
        types = (
            m.filter(hash60(F.col("term")) % 3 != 0)
            .select(
                udfs.iri(F.col("term"), "PascalCase").alias("subject"),
                F.lit("a").alias("predicate"),
                F.lit(":Entity").alias("object"),
            )
            .distinct()
        )
        out = out.unionByName(types)
    return out


def q_kg_property_table(spark, sf_dir):
    """Property-table pivot (web/kgquery.py::property_table): one row
    per doc with its minimum :mentions object and minimum
    :mentionsOften object (null when the doc has none) — the KG
    serving-layer layout, as ONE conditional aggregation instead of a
    self-join per predicate."""
    from mhdb_tables2turtles_spark.web.kgquery import property_table

    return property_table(_often_triples(spark, sf_dir), _PT_PREDICATES)


def _sql_property_table(mentions_sql: str) -> str:
    return f"""
    with m as ({mentions_sql}),
    t as (
        select ':doc_'||doc_id as subject, ':mentions' as predicate,
               ':'||upper(term[1])||term[2:] as object from m
        union all
        select ':doc_'||doc_id, ':mentionsOften',
               ':'||upper(term[1])||term[2:] from m
        where n >= {_OFTEN_MIN_N}
    )
    select subject,
           min(case when predicate = ':mentions' then object end)
               as mentions,
           min(case when predicate = ':mentionsOften' then object end)
               as "mentionsOften"
    from t
    where predicate in (':mentions', ':mentionsOften')
    group by subject
"""


def q_kg_optional_join(spark, sf_dir):
    """SPARQL OPTIONAL (web/kgquery.py::bgp_optional): docs mentioning
    :Spark, each with its :mentionsOften bindings (terms mentioned >= 3
    times in that doc) or a single null row when it has none — the
    left-join BGP shape, minted with the same IRI kernel as
    kg_triples."""
    from mhdb_tables2turtles_spark.web.kgquery import bgp_optional

    return bgp_optional(
        _often_triples(spark, sf_dir), (":mentions", ":Spark"),
        ":mentionsOften",
    ).select(F.col("s").alias("doc"), F.col("v").alias("often"))


def _sql_optional(mentions_sql: str) -> str:
    return f"""
    with m as ({mentions_sql}),
    req as (select distinct ':doc_'||doc_id as s from m
            where term = 'spark'),
    opt as (select distinct ':doc_'||doc_id as s,
                   ':'||upper(term[1])||term[2:] as v
            from m where n >= {_OFTEN_MIN_N})
    select req.s as doc, opt.v as often
    from req left join opt on req.s = opt.s
"""


_US_PER_HOUR = 3_600_000_000


def q_events_rollup(spark, sf_dir):
    """Hypertable-style time rollup: event counts + micro-unit value
    sums per (event_type, hour), with ROLLUP subtotal rows per
    event_type and a grand total — one grouping-sets aggregation (one
    shuffle; Spark expands the rollup map-side).  Values are quantized
    to integer micro-units BEFORE summation so the sum is exact long
    arithmetic on both engines (never a float sum); hours are epoch-µs
    floors (all-positive timestamps, so Spark ``div`` == DuckDB
    ``//``).  Rolled-up keys surface as '<all>' / -1 (the events
    fixture has no null event_type)."""
    epoch = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type",
        F.expr(
            f"(timestampdiff(MICROSECOND, {epoch}, ts)"
            f" div {_US_PER_HOUR}) * {_US_PER_HOUR}"
        ).alias("hour_us"),
        F.expr("cast(round(value * 1000000) as long)").alias("vmicro"),
    )
    return (
        ev.rollup("event_type", "hour_us")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("vmicro").alias("sum_value_micro"),
        )
        .select(
            F.coalesce(F.col("event_type"), F.lit("<all>")).alias(
                "event_type"
            ),
            F.coalesce(F.col("hour_us"), F.lit(-1)).alias("hour_us"),
            "n_events",
            "sum_value_micro",
        )
    )


def q_events_rollup_refresh(spark, sf_dir):
    """Continuous-aggregate refresh (ops/rollup.py::rollup_refresh):
    commit the rollup of ~80% of events, refresh with the other ~20%
    as a late batch — the result must equal the from-scratch rollup of
    everything, which is exactly what the oracle computes (the
    merge_components equivalence-theorem gate pattern)."""
    from mhdb_tables2turtles_spark.ops.rollup import (
        hourly_rollup,
        rollup_refresh,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    is_batch = F.col("event_id") % 5 == 0
    committed = hourly_rollup(ev.filter(~is_batch))
    return rollup_refresh(committed, ev.filter(is_batch))


_SQL_EVENTS_ROLLUP_REFRESH = f"""
    select event_type,
           (epoch_us(ts) // {_US_PER_HOUR}) * {_US_PER_HOUR} as hour_us,
           count(*) as n_events,
           cast(sum(cast(round(value * 1000000) as bigint)) as bigint)
               as sum_value_micro
    from events
    group by event_type, hour_us
"""


_SQL_EVENTS_ROLLUP = f"""
    with s as (
        select event_type,
               (epoch_us(ts) // {_US_PER_HOUR}) * {_US_PER_HOUR} as hour_us,
               cast(round(value * 1000000) as bigint) as vmicro
        from events
    )
    select coalesce(event_type, '<all>') as event_type,
           coalesce(hour_us, -1) as hour_us,
           count(*) as n_events,
           cast(sum(vmicro) as bigint) as sum_value_micro
    from s group by rollup(event_type, hour_us)
"""


# ---------------------------------- round-4b: SPARQL algebra + inference

# oracle-side mint of one doc/term IRI pair (the _often_triples twin)
_SQL_DOC_IRI = "':doc_'||doc_id"
_SQL_TERM_IRI = "':'||upper(term[1])||term[2:]"


def q_kg_union_join(spark, sf_dir):
    """SPARQL UNION (web/kgquery.py::bgp_union): ``{ ?d :mentions :Join
    . ?d :mentions ?e } UNION { ?d :mentionsOften ?e }`` — entities of
    :Join-mentioning docs, unioned with every doc's frequent entities.
    Each branch compiles to its own join tree; the union is a
    zero-shuffle concatenation and only the final set-semantics
    distinct shuffles."""
    from mhdb_tables2turtles_spark.web.kgquery import bgp_union

    return bgp_union(
        _often_triples(spark, sf_dir),
        [
            [("?d", ":mentions", ":Join"), ("?d", ":mentions", "?e")],
            [("?d", ":mentionsOften", "?e")],
        ],
    ).select(F.col("d").alias("doc"), F.col("e").alias("entity"))


def _sql_union(mentions_sql: str) -> str:
    return f"""
    with m as ({mentions_sql}),
    p as (select distinct {_SQL_DOC_IRI} as d, {_SQL_TERM_IRI} as e from m),
    jd as (select distinct {_SQL_DOC_IRI} as d from m where term = 'join'),
    b1 as (select p.d, p.e from jd join p using (d)),
    b2 as (select distinct {_SQL_DOC_IRI} as d, {_SQL_TERM_IRI} as e
           from m where n >= {_OFTEN_MIN_N})
    select distinct d as doc, e as entity
    from (select * from b1 union all select * from b2)
"""


def q_kg_minus_filter(spark, sf_dir):
    """SPARQL MINUS + FILTER (web/kgquery.py::compile_bgp): entities of
    docs mentioning :Spark, MINUS docs that also mention :Hash, with
    FILTER(?e != :Spark) — the negation shape compiles to a left-anti
    join on the shared variable (only ?d shuffles, never full binding
    rows) and the filter folds into the pattern scan."""
    from mhdb_tables2turtles_spark.web.kgquery import compile_bgp

    return compile_bgp(
        _often_triples(spark, sf_dir),
        [("?d", ":mentions", ":Spark"), ("?d", ":mentions", "?e")],
        minus=[("?d", ":mentions", ":Hash")],
        filters=["e != ':Spark'"],
    ).select(F.col("d").alias("doc"), F.col("e").alias("entity"))


def _sql_minus(mentions_sql: str) -> str:
    return f"""
    with m as ({mentions_sql}),
    p as (select distinct {_SQL_DOC_IRI} as d, {_SQL_TERM_IRI} as e from m),
    sp as (select distinct {_SQL_DOC_IRI} as d from m where term = 'spark'),
    hs as (select distinct {_SQL_DOC_IRI} as d from m where term = 'hash')
    select distinct sp.d as doc, p.e as entity
    from sp
    join p using (d)
    anti join hs using (d)
    where p.e != ':Spark'
"""


def _subclass_triples(spark, sf_dir):
    """Deterministic class hierarchy for the inference queries: strong
    co-occurrence edges (n_docs >= 3) minted as ``rdfs:subClassOf``
    from the lexically smaller term to the larger — term order makes
    the hierarchy a DAG, so the closure's fixpoint depth is bounded by
    the vocabulary, exactly the ontology-sized shape
    :mod:`~mhdb_tables2turtles_spark.web.inference` is designed for.

    The synthetic co-mention graph is COMPLETE on the vocabulary (every
    pair, so its lexical DAG is already transitively closed and the
    closure would be a no-op); the fixture hash-drops ~2/3 of the edges
    (the same self-contained device as kg_link_predict) so the closure
    genuinely derives new multi-hop pairs."""
    from mhdb_tables2turtles_spark.functions import udfs
    from mhdb_tables2turtles_spark.ops.common import hash60
    from mhdb_tables2turtles_spark.queries import q_kg_cooccurrence

    c = q_kg_cooccurrence(spark, sf_dir).filter(
        (F.col("n_docs") >= _CHAIN_MIN_DOCS)
        & (
            hash60(F.concat_ws(" ", F.col("term_a"), F.col("term_b"))) % 3
            == 0
        )
    )
    return c.select(
        udfs.iri(F.col("term_a"), "PascalCase").alias("subject"),
        F.lit("rdfs:subClassOf").alias("predicate"),
        udfs.iri(F.col("term_b"), "PascalCase").alias("object"),
    )


_SQL_SUBCLASS_CTE = """
    c as (select term_a, term_b from ({cooc_sql})
          where n_docs >= {min_docs}
            and ('0x'||substr(md5(term_a||' '||term_b),1,15))::BIGINT
                % 3 = 0),
    sub as (select {iri_a} as s, {iri_b} as o from c),
    tc(s, o) as (
        select s, o from sub
        union
        select tc.s, sub.o from tc join sub on tc.o = sub.s
    )
"""


def _sql_subclass(cooc_sql: str) -> str:
    return _SQL_SUBCLASS_CTE.format(
        cooc_sql=cooc_sql,
        min_docs=_CHAIN_MIN_DOCS,
        iri_a=_SQL_TERM_IRI_A,
        iri_b=_SQL_TERM_IRI_B,
    )


def q_kg_path_closure(spark, sf_dir):
    """Transitive-closure property path (web/inference.py::
    transitive_closure): every ``?c rdfs:subClassOf+ ?a`` pair of the
    minted class hierarchy — semi-naive Datalog iteration (each round
    extends only the previous round's delta), run to the fixpoint."""
    from mhdb_tables2turtles_spark.web.inference import transitive_closure

    sub = _subclass_triples(spark, sf_dir).select(
        F.col("subject").alias("src"), F.col("object").alias("dst")
    )
    return transitive_closure(sub).select(
        F.col("src").alias("cls"), F.col("dst").alias("ancestor")
    )


def _sql_path_closure(cooc_sql: str) -> str:
    return (
        "with recursive "
        + _sql_subclass(cooc_sql).strip()
        + "\n    select s as cls, o as ancestor from tc"
    )


def q_kg_rdfs_closure(spark, sf_dir):
    """RDFS entailment materialization (web/inference.py::
    rdfs_closure): base graph = ``?doc a ?Entity`` type triples plus the
    minted ``rdfs:subClassOf`` hierarchy; output adds rule rdfs11
    (subclass transitivity) and rule rdfs9 (types inherit up the
    closure) — the reasoner step SQL-layer consumers of a materialized
    triple table don't get from a triple store."""
    from mhdb_tables2turtles_spark.functions import udfs
    from mhdb_tables2turtles_spark.queries import _mention_counts
    from mhdb_tables2turtles_spark.web.inference import rdfs_closure

    types = _mention_counts(spark, sf_dir).select(
        udfs.iri(
            F.concat(F.lit("doc "), F.col("doc_id").cast("string")),
            "delimited",
        ).alias("subject"),
        F.lit("a").alias("predicate"),
        udfs.iri(F.col("term"), "PascalCase").alias("object"),
    )
    # Materialize the base graph once: rdfs_closure consumes it three
    # times (the subclass slice feeding the closure loop, the type slice
    # under the broadcast join, and the final union), and without a
    # checkpoint each consumer re-derives the mention scan + minted
    # hierarchy from parquet (measured 6.7s -> 3.9s at sf0.1).  At 100 TB
    # the base is a materialized triple-store scan, so the checkpoint
    # stands in for what a store read gives for free.
    base = types.unionByName(_subclass_triples(spark, sf_dir)).localCheckpoint(
        eager=True
    )
    return rdfs_closure(base)


def _sql_rdfs_closure(cooc_sql: str, mentions_sql: str) -> str:
    return f"""
    with recursive m as ({mentions_sql}),
    {_sql_subclass(cooc_sql).strip()},
    ty as (select distinct {_SQL_DOC_IRI} as s, {_SQL_TERM_IRI} as o from m)
    select distinct subject, predicate, object from (
        select s as subject, 'a' as predicate, o as object from ty
        union all
        select s, 'rdfs:subClassOf', o from sub
        union all
        select s, 'rdfs:subClassOf', o from tc
        union all
        select ty.s, 'a', tc.o from ty join tc on ty.o = tc.s
    )
"""


_HITS_ITERS = 2


def q_kg_hits(spark, sf_dir):
    """HITS hubs/authorities (web/graphrank.py::hits_fixed) over a
    DIRECTED graph: the hash-sparsified strong co-mention pairs taken
    as directed term_a→term_b edges (the same fixture device as
    kg_link_predict — the full co-mention graph is symmetric, which
    would make hub == auth everywhere)."""
    from mhdb_tables2turtles_spark.ops.common import hash60
    from mhdb_tables2turtles_spark.web.graphrank import hits_fixed

    edges = (
        q_kg_cooccurrence_edges(spark, sf_dir)
        .filter(
            hash60(F.concat_ws(" ", F.col("src"), F.col("dst"))) % 3 == 0
        )
    )
    return hits_fixed(edges, iterations=_HITS_ITERS)


def _sql_hits(cooc_sql: str) -> str:
    parts = [
        f"""with e as (
            select term_a as u, term_b as v from ({cooc_sql})
            where n_docs >= {_PR_MIN_DOCS}
              and ('0x'||substr(md5(term_a||' '||term_b),1,15))::BIGINT
                  % 3 = 0
        ),
        nodes as (select u as node from e union select v from e),
        h0 as (select node, cast(1 as bigint) as hub from nodes)"""
    ]
    for i in range(1, _HITS_ITERS + 1):
        parts.append(
            f"""a{i} as (
            select n.node, cast(coalesce(s.a, 0) as bigint) as auth
            from nodes n left join (
                select e.v as node, sum(h.hub) as a
                from e join h{i-1} h on e.u = h.node group by e.v
            ) s on n.node = s.node),
        h{i} as (
            select n.node, cast(coalesce(s.h, 0) as bigint) as hub
            from nodes n left join (
                select e.u as node, sum(a.auth) as h
                from e join a{i} a on e.v = a.node group by e.u
            ) s on n.node = s.node)"""
        )
    k = _HITS_ITERS
    return (
        ",\n".join(parts)
        + f"""
    select h{k}.node, h{k}.hub, a{k}.auth
    from h{k} join a{k} on h{k}.node = a{k}.node
"""
    )


def q_kg_void_stats(spark, sf_dir):
    """VoID-style dataset statistics per predicate (the W3C "Vocabulary
    of Interlinked Datasets" property-partition numbers): triple count,
    distinct subjects, distinct objects — the summary every triple
    store publishes and every query planner feeds on.  ONE aggregation
    keyed by predicate; the distinct counts partial-aggregate map-side."""
    t = _mention_plus_cooc_triples(spark, sf_dir)
    return t.groupBy("predicate").agg(
        F.count("*").alias("n_triples"),
        F.count_distinct("subject").alias("n_subjects"),
        F.count_distinct("object").alias("n_objects"),
    )


def _sql_void_stats(cooc_sql: str, triples_sql: str) -> str:
    return f"""
    with c as (select term_a, term_b from ({cooc_sql})
               where n_docs >= {_CHAIN_MIN_DOCS}),
    t as (
        select subject, predicate, object from ({triples_sql})
        union all
        select {_SQL_TERM_IRI_A}, ':coOccursWith', {_SQL_TERM_IRI_B} from c
        union all
        select {_SQL_TERM_IRI_B}, ':coOccursWith', {_SQL_TERM_IRI_A} from c
    )
    select predicate,
           count(*) as n_triples,
           count(distinct subject) as n_subjects,
           count(distinct object) as n_objects
    from t group by predicate
"""


def q_kg_rule_support(spark, sf_dir):
    """Derivation provenance for inferred triples: each
    kg_construct_rule-derived ``(doc, :relatedTo, related)`` pair with
    its WITNESS COUNT — the number of distinct intermediate entities
    ?e that derive it (``?d :mentions ?e . ?e :coOccursWith ?f``).
    Support counts are how a production KG ranks/filters rule output
    (single-witness inferences are the noisy tail).  One aggregation
    over the already-distinct binding set."""
    from mhdb_tables2turtles_spark.web.kgquery import compile_bgp

    b = compile_bgp(
        _mention_plus_cooc_triples(spark, sf_dir),
        [("?d", ":mentions", "?e"), ("?e", ":coOccursWith", "?f")],
    )
    return b.groupBy(
        F.col("d").alias("doc"), F.col("f").alias("related")
    ).agg(F.count("*").alias("n_witnesses"))


def _sql_rule_support(cooc_sql: str, triples_sql: str) -> str:
    return f"""
    with t as ({triples_sql}),
    c as (select term_a, term_b from ({cooc_sql})
          where n_docs >= {_CHAIN_MIN_DOCS}),
    ee as (select {_SQL_TERM_IRI_A} as s, {_SQL_TERM_IRI_B} as o from c
           union all
           select {_SQL_TERM_IRI_B}, {_SQL_TERM_IRI_A} from c),
    b as (select distinct t.subject as d, ee.s as e, ee.o as f
          from t join ee on t.object = ee.s
          where t.predicate = ':mentions')
    select d as doc, f as related, count(*) as n_witnesses
    from b group by d, f
"""


def q_kg_reciprocity(spark, sf_dir):
    """Directed-graph reciprocity (the first structural statistic of any
    web/link graph): fraction of directed edges whose reverse edge
    exists, in integer basis points.  The fixture directs the strong
    co-mention pairs by hash — forward when h%3==0, backward when
    h%5==0, so pairs with h%15==0 carry both directions.  One
    self-semi-join on the reversed key + two single-row counts."""
    from mhdb_tables2turtles_spark.ops.common import hash60

    c = (
        q_kg_cooccurrence_edges(spark, sf_dir)
        .withColumn(
            "__h", hash60(F.concat_ws(" ", F.col("src"), F.col("dst")))
        )
        .localCheckpoint(eager=False)
    )
    fwd = c.filter(F.col("__h") % 3 == 0).select("src", "dst")
    bwd = c.filter(F.col("__h") % 5 == 0).select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    e = fwd.unionAll(bwd).localCheckpoint(eager=False)
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    n_rec = (
        e.join(rev, ["src", "dst"], "left_semi")
        .agg(F.count("*").alias("n_reciprocal"))
    )
    return (
        e.agg(F.count("*").alias("n_edges"))
        .crossJoin(n_rec)
        .select(
            "n_edges",
            "n_reciprocal",
            F.expr("(10000 * n_reciprocal) div n_edges").alias(
                "reciprocity_bp"
            ),
        )
    )


def _sql_reciprocity(cooc_sql: str) -> str:
    h = "('0x'||substr(md5(term_a||' '||term_b),1,15))::BIGINT"
    return f"""
    with c as (select term_a, term_b, {h} as h from ({cooc_sql})
               where n_docs >= {_PR_MIN_DOCS}),
    e as (select term_a as src, term_b as dst from c where h % 3 = 0
          union all
          select term_b, term_a from c where h % 5 = 0),
    r as (select e.src, e.dst from e
          semi join e rev on e.src = rev.dst and e.dst = rev.src)
    select (select count(*) from e) as n_edges,
           (select count(*) from r) as n_reciprocal,
           (10000 * (select count(*) from r))
               // (select count(*) from e) as reciprocity_bp
"""


def q_kg_canonical_triples(spark, sf_dir):
    """sameAs smushing under the gate (web/canonicalize.py::
    rewrite_triples): equivalence edges = the hash-sparsified strong
    co-mention pairs (as if an alias dictionary had merged them),
    canonical labels via connected_components, then every mention
    triple's object rewritten to its component's canonical IRI (doc
    subjects pass through unmapped) — the canonicalization step every
    KG build runs between extraction and materialization."""
    from mhdb_tables2turtles_spark.functions import udfs
    from mhdb_tables2turtles_spark.ops.common import hash60
    from mhdb_tables2turtles_spark.queries import (
        _mention_counts,
        q_kg_cooccurrence,
        q_kg_triples,
    )
    from mhdb_tables2turtles_spark.web.canonicalize import (
        canonical_mapping,
        connected_components,
        rewrite_triples,
    )

    # one token-index scan feeds BOTH the equivalence-edge branch and
    # the triple-mint branch (same device as kg_rdfs_closure's base
    # materialization — the scan is the dominant cost and CC's eager
    # checkpoints force it during construction anyway)
    mentions = _mention_counts(spark, sf_dir).localCheckpoint(eager=False)
    eq = (
        q_kg_cooccurrence(spark, sf_dir, mentions=mentions)
        .filter(
            (F.col("n_docs") >= _PR_MIN_DOCS)
            & (
                hash60(F.concat_ws(" ", F.col("term_a"), F.col("term_b")))
                % 9
                == 0
            )
        )
        .select(
            udfs.iri(F.col("term_a"), "PascalCase").alias("src"),
            udfs.iri(F.col("term_b"), "PascalCase").alias("dst"),
        )
    )
    mapping = canonical_mapping(connected_components(eq))
    return rewrite_triples(
        q_kg_triples(spark, sf_dir, mentions=mentions), mapping
    )


def _sql_canonical_triples(cooc_sql: str, triples_sql: str) -> str:
    return f"""
    with recursive eq0 as (
        select term_a, term_b from ({cooc_sql})
        where n_docs >= {_PR_MIN_DOCS}
          and ('0x'||substr(md5(term_a||' '||term_b),1,15))::BIGINT % 9 = 0
    ),
    eqi as (select {_SQL_TERM_IRI_A} as u, {_SQL_TERM_IRI_B} as v from eq0),
    e as (select u, v from eqi union select v, u from eqi),
    reach(node, r) as (
        select distinct u, u from e
        union
        select reach.node, e.v from reach join e on reach.r = e.u
    ),
    m as (select node as iri, min(r) as canon from reach group by node),
    t as ({triples_sql})
    select distinct
        coalesce(ms.canon, t.subject) as subject,
        t.predicate,
        coalesce(mo.canon, t.object) as object
    from t
    left join m ms on t.subject = ms.iri
    left join m mo on t.object = mo.iri
"""


_PPR_SEEDS = ("spark",)


def q_kg_ppr(spark, sf_dir):
    """Personalized PageRank (web/graphrank.py::ppr_fixed): teleport
    restarts at the 'spark' seed entity — rank relative to a topic,
    the KG recommendation primitive.  Same exact-integer contract as
    kg_pagerank; the oracle unrolls the identical rounds."""
    from mhdb_tables2turtles_spark.web.graphrank import ppr_fixed

    edges = q_kg_cooccurrence_edges(spark, sf_dir).localCheckpoint(
        eager=False
    )
    seeds = spark.createDataFrame([(s,) for s in _PPR_SEEDS], ["node"])
    return ppr_fixed(edges, seeds, iterations=_PR_ITERS)


def _sql_ppr(cooc_sql: str) -> str:
    seeds = ", ".join(f"'{s}'" for s in _PPR_SEEDS)
    base = (15 * SCALE) // 100
    parts = [
        f"""with e0 as (
            select term_a, term_b from ({cooc_sql})
            where n_docs >= {_PR_MIN_DOCS}
        ),
        e as (select term_a as u, term_b as v from e0
              union all select term_b, term_a from e0),
        deg as (select u, count(*) as d from e group by u),
        nodes as (select distinct u as node from e),
        r0 as (select node,
                      cast(case when node in ({seeds}) then {SCALE}
                           else 0 end as bigint) as pr
               from nodes)"""
    ]
    for i in range(1, _PR_ITERS + 1):
        parts.append(
            f"""r{i} as (
            select n.node,
                   cast(case when n.node in ({seeds}) then {base}
                        else 0 end
                        + coalesce(s.c, 0) as bigint) as pr
            from nodes n
            left join (
                select e.v as node,
                       sum((85 * r.pr) // (100 * deg.d)) as c
                from e
                join r{i-1} r on e.u = r.node
                join deg on deg.u = e.u
                group by e.v
            ) s on n.node = s.node)"""
        )
    return (
        ",\n".join(parts) + f"\nselect node, pr from r{_PR_ITERS}"
    )


# SHACL-lite shapes for the quality-gate query: every doc must mention
# >= 2 distinct entities (IRI-shaped), frequent-mention fan-out is
# capped at 2, and :Spark may not be a frequent mention (sh:in
# complement) — all four constraint components exercised, three fire
# at sf0.01.
_SHACL_SHAPES = [
    {"predicate": ":mentions", "min_count": 2, "node_prefix": ":"},
    {
        "predicate": ":mentionsOften",
        "max_count": 2,
        "not_in": (":Spark",),
        "object_class": ":Entity",
    },
]


def q_kg_shacl_report(spark, sf_dir):
    """SHACL-lite validation report (web/shapes.py::validate_shapes)
    over the typed doc fixture: one violation row per broken constraint
    — cardinality checks as ONE (subject, predicate) aggregation, value
    checks as shuffle-free row-local scans, sh:class as a left-anti
    join against the fixture's (deliberately incomplete) rdf:type
    slice."""
    from mhdb_tables2turtles_spark.web.shapes import validate_shapes

    return validate_shapes(
        _often_triples(spark, sf_dir, with_types=True), _SHACL_SHAPES
    )


def _sql_shacl(mentions_sql: str) -> str:
    return f"""
    with m as ({mentions_sql}),
    t as (
        select {_SQL_DOC_IRI} as subject, ':mentions' as predicate,
               {_SQL_TERM_IRI} as object from m
        union all
        select {_SQL_DOC_IRI}, ':mentionsOften', {_SQL_TERM_IRI}
        from m where n >= {_OFTEN_MIN_N}
    ),
    f as (select distinct subject as focus from t),
    c as (select subject, predicate, count(distinct object) as n
          from t group by 1, 2)
    select focus, ':mentions' as predicate,
           'minCount' as component,
           cast(coalesce(x.n, 0) as varchar) as value
    from f left join (select subject, n from c
                      where predicate = ':mentions') x
      on f.focus = x.subject
    where coalesce(x.n, 0) < 2
    union all
    select focus, ':mentionsOften', 'maxCount',
           cast(coalesce(y.n, 0) as varchar)
    from f left join (select subject, n from c
                      where predicate = ':mentionsOften') y
      on f.focus = y.subject
    where coalesce(y.n, 0) > 2
    union all
    select distinct subject, ':mentions', 'nodeKind', object
    from t where predicate = ':mentions' and object not like ':%'
    union all
    select distinct subject, ':mentionsOften', 'in', object
    from t where predicate = ':mentionsOften' and object = ':Spark'
    union all
    select distinct subject, ':mentionsOften', 'class', object
    from t
    where predicate = ':mentionsOften'
      and object not in (
        select distinct {_SQL_TERM_IRI} from m
        where ('0x'||substr(md5(term),1,15))::BIGINT % 3 != 0
      )
"""


# ontology for the OWL property-closure fixture: one inverse pair, one
# symmetric property, one transitive property — each driven by a
# different hash residue of the strong co-mention pairs so all three
# OWL 2 RL property rules fire at sf0.01.
_OWL_ONTOLOGY = [
    (":linksTo", "owl:inverseOf", ":linkedFrom"),
    (":relatedTo", "a", "owl:SymmetricProperty"),
    (":narrowerThan", "a", "owl:TransitiveProperty"),
]


def q_kg_owl_closure(spark, sf_dir):
    """OWL 2 RL property-rule materialization (web/inference.py::
    owl_property_closure) over a three-predicate fixture directed by
    hash residues: ``:linksTo`` (h%3) gains its declared inverse
    ``:linkedFrom``, ``:relatedTo`` (h%5) mirrors as a symmetric
    property, and the lexicographically-directed (hence acyclic)
    ``:narrowerThan`` slice (h%2, src < dst) closes transitively —
    all driven by the owl: declarations INSIDE the triple table."""
    from mhdb_tables2turtles_spark.ops.common import hash60
    from mhdb_tables2turtles_spark.web.inference import owl_property_closure

    c = (
        q_kg_cooccurrence_edges(spark, sf_dir)
        .withColumn(
            "__h", hash60(F.concat_ws(" ", F.col("src"), F.col("dst")))
        )
        .localCheckpoint(eager=False)
    )

    def mint(df, pred):
        return df.select(
            F.col("src").alias("subject"),
            F.lit(pred).alias("predicate"),
            F.col("dst").alias("object"),
        )

    links = mint(c.filter(F.col("__h") % 3 == 0), ":linksTo")
    rel = mint(c.filter(F.col("__h") % 5 == 0), ":relatedTo")
    nar = mint(
        c.filter((F.col("__h") % 2 == 0) & (F.col("src") < F.col("dst"))),
        ":narrowerThan",
    )
    onto = spark.createDataFrame(
        _OWL_ONTOLOGY, ["subject", "predicate", "object"]
    )
    return owl_property_closure(
        links.unionByName(rel).unionByName(nar).unionByName(onto)
    )


def _sql_owl_closure(cooc_sql: str) -> str:
    h = "('0x'||substr(md5(term_a||' '||term_b),1,15))::BIGINT"
    return f"""
    with recursive c as (
        select term_a as s, term_b as o, {h} as h
        from ({cooc_sql}) where n_docs >= {_PR_MIN_DOCS}),
    links as (select s, o from c where h % 3 = 0),
    rel as (select s, o from c where h % 5 = 0),
    nar as (select s, o from c where h % 2 = 0 and s < o),
    narc(s, o) as (
        select s, o from nar
        union
        select n.s, e.o from narc n join nar e on n.o = e.s
    ),
    allt as (
        select s as subject, ':linksTo' as predicate, o as object
        from links
        union all select o, ':linkedFrom', s from links
        union all select s, ':relatedTo', o from rel
        union all select o, ':relatedTo', s from rel
        union all select s, ':narrowerThan', o from narc
        union all select ':linksTo', 'owl:inverseOf', ':linkedFrom'
        union all select ':relatedTo', 'a', 'owl:SymmetricProperty'
        union all select ':narrowerThan', 'a', 'owl:TransitiveProperty'
    )
    select distinct subject, predicate, object from allt
"""


_AGG_MIN_DOCS = 4  # HAVING threshold for the SPARQL-aggregation query


def q_kg_group_agg(spark, sf_dir):
    """SPARQL aggregation (web/kgquery.py::group_solutions) composed
    with the BGP compiler: ``SELECT ?ent (COUNT(?doc) AS n_docs)
    (MIN(?doc) AS sample_doc) WHERE {{ ?doc :mentions ?ent }} GROUP BY
    ?ent HAVING (COUNT(?doc) >= 4)`` — the canonical SPARQL 1.1
    analytics shape, compiled to ONE aggregation (set-semantics
    bindings make COUNT a distinct count for free)."""
    from mhdb_tables2turtles_spark.web.kgquery import (
        compile_bgp,
        group_solutions,
    )

    b = compile_bgp(
        _often_triples(spark, sf_dir), [("?doc", ":mentions", "?ent")]
    )
    return group_solutions(
        b,
        ["ent"],
        {"n_docs": "count(doc)", "sample_doc": "min(doc)"},
        having=f"n_docs >= {_AGG_MIN_DOCS}",
    )


def _sql_group_agg(mentions_sql: str) -> str:
    return f"""
    with m as ({mentions_sql}),
    b as (select distinct {_SQL_DOC_IRI} as doc, {_SQL_TERM_IRI} as ent
          from m)
    select ent, count(doc) as n_docs, min(doc) as sample_doc
    from b group by ent having count(doc) >= {_AGG_MIN_DOCS}
"""


def q_kg_char_sets(spark, sf_dir):
    """Characteristic sets (Neumann & Moerkotte, ICDE 2011 — the
    standard RDF cardinality-estimation statistic): for each subject
    its sorted distinct-predicate set, then subjects and triples per
    set.  Two aggregations — subject-keyed (uniform: doc/entity IRIs),
    then set-keyed (a handful of distinct sets) — exactly the summary
    a SPARQL optimizer precomputes once per snapshot at 10^12 rows."""
    t = _often_triples(spark, sf_dir, with_types=True)
    per_subj = t.groupBy("subject").agg(
        F.concat_ws(
            ",", F.sort_array(F.collect_set("predicate"))
        ).alias("char_set"),
        F.count("*").alias("__n"),
    )
    return per_subj.groupBy("char_set").agg(
        F.count("*").alias("n_subjects"),
        F.sum("__n").cast("long").alias("n_triples"),
    )


def _sql_char_sets(mentions_sql: str) -> str:
    return f"""
    with m as ({mentions_sql}),
    t as (
        select {_SQL_DOC_IRI} as subject, ':mentions' as predicate,
               {_SQL_TERM_IRI} as object from m
        union all
        select {_SQL_DOC_IRI}, ':mentionsOften', {_SQL_TERM_IRI}
        from m where n >= {_OFTEN_MIN_N}
        union all
        select distinct {_SQL_TERM_IRI}, 'a', ':Entity' from m
        where ('0x'||substr(md5(term),1,15))::BIGINT % 3 != 0
    ),
    s1 as (select distinct subject, predicate from t),
    s2 as (select subject,
                  string_agg(predicate, ',' order by predicate) as char_set
           from s1 group by subject),
    cnt as (select subject, count(*) as n from t group by subject)
    select char_set, count(*) as n_subjects,
           cast(sum(n) as bigint) as n_triples
    from s2 join cnt using (subject) group by char_set
"""


def q_kg_path_query(spark, sf_dir):
    """SPARQL 1.1 property-path evaluation (web/paths.py::eval_path):
    the path ``:mentions/:coOccursWith?`` — every doc paired with each
    entity it mentions OR a strong co-occurrent of one — exercising the
    sequence and zero-or-one combinators (the zero-length identity
    composes away inside a sequence, per the spec's path algebra)."""
    from mhdb_tables2turtles_spark.web.paths import (
        eval_path,
        pred,
        seq,
        zero_or_one,
    )

    t = _mention_plus_cooc_triples(spark, sf_dir)
    return eval_path(
        t, seq(pred(":mentions"), zero_or_one(pred(":coOccursWith")))
    )


def _sql_path_query(cooc_sql: str, triples_sql: str) -> str:
    return f"""
    with t as ({triples_sql}),
    c as (select term_a, term_b from ({cooc_sql})
          where n_docs >= {_CHAIN_MIN_DOCS}),
    ee as (select {_SQL_TERM_IRI_A} as s, {_SQL_TERM_IRI_B} as o from c
           union all
           select {_SQL_TERM_IRI_B}, {_SQL_TERM_IRI_A} from c),
    p as (select distinct subject as d, object as e from t
          where predicate = ':mentions')
    select distinct src, dst from (
        select d as src, e as dst from p
        union all
        select p.d, ee.o from p join ee on p.e = ee.s
    )
"""


def q_kg_bgp_optimized(spark, sf_dir):
    """Selectivity-ordered BGP (web/kgquery.py::compile_bgp_optimized):
    the triangle query ``?d :mentions ?e . ?e :coOccursWith ?e2 .
    ?d :mentions ?e2`` — docs mentioning BOTH ends of a strong
    co-occurrence edge — written in its WORST order (instance-scale
    :mentions patterns first) and handed to the cost-based pre-pass,
    which reorders by predicate counts so the much smaller
    :coOccursWith pattern anchors the join tree.  Result set is
    order-independent, so the oracle is the plain relational join; the
    physical reorder itself is asserted in tests/test_graph.py."""
    from mhdb_tables2turtles_spark.web.kgquery import compile_bgp_optimized

    # Materialize the triple table once: the cost-based pre-pass runs a
    # predicate-count action over it BEFORE the reordered BGP scans it
    # again per pattern (A/B at sf0.1: 4.98s -> 3.95s, identical rows).
    # The other BGP-family queries skip this — for their single pass the
    # lazy mention-scan checkpoint inside _mention_plus_cooc_triples
    # already captures the reuse and an eager write measured as a wash.
    triples = _mention_plus_cooc_triples(spark, sf_dir).localCheckpoint(
        eager=True
    )
    out = compile_bgp_optimized(
        triples,
        [
            ("?d", ":mentions", "?e"),
            ("?d", ":mentions", "?e2"),
            ("?e", ":coOccursWith", "?e2"),
        ],
    )
    return out.select("d", "e", "e2")


def _sql_bgp_optimized(cooc_sql: str, triples_sql: str) -> str:
    return f"""
    with t as ({triples_sql}),
    c as (select term_a, term_b from ({cooc_sql})
          where n_docs >= {_CHAIN_MIN_DOCS}),
    ee as (select {_SQL_TERM_IRI_A} as s, {_SQL_TERM_IRI_B} as o from c
           union all
           select {_SQL_TERM_IRI_B}, {_SQL_TERM_IRI_A} from c),
    p as (select distinct subject as d, object as e from t
          where predicate = ':mentions')
    select distinct p1.d, p1.e, ee.o as e2
    from p p1
    join ee on p1.e = ee.s
    join p p2 on p2.d = p1.d and p2.e = ee.o
"""


def q_kg_describe(spark, sf_dir):
    """SPARQL DESCRIBE (web/kgquery.py::describe): the Concise Bounded
    Description, 2 hops, of every entity strongly co-occurring with
    :Spark — the 'entity card' query a KG consumer renders.  Each hop
    is a frontier-proportional left-semi join; the focus set broadcasts
    while small."""
    from mhdb_tables2turtles_spark.web.kgquery import describe

    t = _mention_plus_cooc_triples(spark, sf_dir)
    focus = (
        t.filter(
            (F.col("subject") == ":Spark")
            & (F.col("predicate") == ":coOccursWith")
        )
        .select(F.col("object").alias("node"))
        .distinct()
    )
    return describe(t, focus, hops=2)


def _sql_describe(cooc_sql: str, triples_sql: str) -> str:
    return f"""
    with t as ({triples_sql}),
    c as (select term_a, term_b from ({cooc_sql})
          where n_docs >= {_CHAIN_MIN_DOCS}),
    ee as (select {_SQL_TERM_IRI_A} as s, {_SQL_TERM_IRI_B} as o from c
           union all
           select {_SQL_TERM_IRI_B}, {_SQL_TERM_IRI_A} from c),
    tt as (select subject, predicate, object from t
           union all
           select s, ':coOccursWith', o from ee),
    f0 as (select distinct o as node from ee where s = ':Spark'),
    d1 as (select tt.* from tt join f0 on tt.subject = f0.node),
    f1 as (select distinct object as node from d1),
    d2 as (select tt.* from tt join f1 on tt.subject = f1.node)
    select distinct subject, predicate, object from
    (select * from d1 union all select * from d2)
"""


def q_kg_assortativity(spark, sf_dir):
    """Degree assortativity of the strong co-mention graph (Newman
    2002) in EXACT integers: with edges doubled symmetrically the two
    variance factors of Pearson's r are identical, so
    ``r = assort_num / assort_den`` with ``assort_num = n*Σxy - Σx*Σy``
    and ``assort_den = n*Σx² - (Σx)²`` — no square root, no floats,
    hash-exact across engines (the ratio is the consumer's one
    division).  Plan: ONE degree aggregation, two broadcast joins of
    the entity-sized degree table onto the doubled edge list, ONE
    single-row moment aggregation — nothing instance-scale shuffles
    except the initial degree groupBy."""
    e0 = q_kg_cooccurrence_edges(spark, sf_dir)
    e = e0.unionAll(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=False)
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("deg")
    )
    j = (
        e.join(
            F.broadcast(deg).withColumnRenamed("node", "src"), "src"
        )
        .withColumnRenamed("deg", "x")
        .join(
            F.broadcast(deg).withColumnRenamed("node", "dst"), "dst"
        )
        .withColumnRenamed("deg", "y")
    )
    s = j.agg(
        F.count("*").cast("long").alias("n_dedges"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sum_xy"),
        F.sum("x").cast("long").alias("sum_x"),
        F.sum("y").cast("long").alias("sum_y"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sum_x2"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("sum_y2"),
    )
    return s.select(
        "*",
        (F.col("n_dedges") * F.col("sum_xy") - F.col("sum_x") * F.col("sum_y")).alias("assort_num"),
        (F.col("n_dedges") * F.col("sum_x2") - F.col("sum_x") * F.col("sum_x")).alias("assort_den"),
    )


def _sql_assortativity(cooc_sql: str) -> str:
    return f"""
    with e0 as (select term_a, term_b from ({cooc_sql})
                where n_docs >= {_PR_MIN_DOCS}),
    e as (select term_a as src, term_b as dst from e0
          union all select term_b, term_a from e0),
    d as (select src as node, count(*) as deg from e group by src),
    j as (select dx.deg as x, dy.deg as y from e
          join d dx on e.src = dx.node
          join d dy on e.dst = dy.node),
    s as (select cast(count(*) as bigint) as n_dedges,
                 cast(sum(x*y) as bigint) as sum_xy,
                 cast(sum(x) as bigint) as sum_x,
                 cast(sum(y) as bigint) as sum_y,
                 cast(sum(x*x) as bigint) as sum_x2,
                 cast(sum(y*y) as bigint) as sum_y2
          from j)
    select *,
           n_dedges * sum_xy - sum_x * sum_y as assort_num,
           n_dedges * sum_x2 - sum_x * sum_x as assort_den
    from s
"""


def q_kg_named_graphs(spark, sf_dir):
    """Named-graph (quad) surface: each crawl ``source`` is a named
    graph (the SPARQL dataset model — one graph per crawl slice /
    provenance bucket), and the query is cross-graph entity
    persistence: per entity, in how many and which named graphs it is
    mentioned — the 'is this entity corpus-wide or one-source noise?'
    signal a KG curation pass keys trust decisions on.

    Plan: mention scan ⋈ documents on the uniform doc_id key, then ONE
    entity-keyed aggregation (count distinct + sorted collect_set of
    graph names; graph cardinality is sources — tiny, so the set
    buffers stay bounded no matter the corpus size)."""
    from mhdb_tables2turtles_spark.functions import udfs
    from mhdb_tables2turtles_spark.queries import (
        _mention_counts,
        _read_spread,
    )

    m = _mention_counts(spark, sf_dir).select("doc_id", "term").distinct()
    docs = _read_spread(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    quads = m.join(docs, "doc_id").select(
        F.col("source").alias("graph"),
        udfs.iri(F.col("term"), "PascalCase").alias("entity"),
    )
    return quads.groupBy("entity").agg(
        F.countDistinct("graph").alias("n_graphs"),
        # Emitted as a comma-joined string, not ArrayType: the driver's
        # row canonicalizer hashes via pandas sort_values, which cannot
        # factorize list-valued cells (round-4 red row).  Scalar-only
        # output columns are now linted in tests/test_entry_contract.py.
        F.concat_ws(",", F.sort_array(F.collect_set("graph"))).alias(
            "graphs"
        ),
    )


def _sql_named_graphs(mentions_sql: str) -> str:
    return f"""
    with m as (select distinct doc_id, term from ({mentions_sql})),
    q as (select d.source as graph, {_SQL_TERM_IRI} as entity
          from m join documents d using (doc_id))
    select entity,
           cast(count(distinct graph) as bigint) as n_graphs,
           array_to_string(list_sort(list(distinct graph)), ',') as graphs
    from q group by entity
"""


def q_kg_values_bind(spark, sf_dir):
    """SPARQL VALUES + BIND (web/kgquery.py::compile_bgp): restrict the
    chain BGP ``?d :mentions ?e . ?e :coOccursWith ?f`` with
    ``VALUES ?e { :Spark :Hash :Vector }`` and append
    ``BIND(concat(?e, '->', ?f) AS ?edge)``.  VALUES compiles to an
    IN-list predicate Catalyst pushes into ?e's pattern scans; BIND is
    a row-local projection — neither adds a shuffle."""
    from mhdb_tables2turtles_spark.web.kgquery import compile_bgp

    t = _mention_plus_cooc_triples(spark, sf_dir)
    return compile_bgp(
        t,
        [("?d", ":mentions", "?e"), ("?e", ":coOccursWith", "?f")],
        values={"e": [":Spark", ":Hash", ":Vector"]},
        bind={"edge": "concat(e, '->', f)"},
    )


def _sql_values_bind(cooc_sql: str, triples_sql: str) -> str:
    return f"""
    with t as ({triples_sql}),
    c as (select term_a, term_b from ({cooc_sql})
          where n_docs >= {_CHAIN_MIN_DOCS}),
    ee as (select {_SQL_TERM_IRI_A} as s, {_SQL_TERM_IRI_B} as o from c
           union all
           select {_SQL_TERM_IRI_B}, {_SQL_TERM_IRI_A} from c),
    m as (select distinct subject as d, object as e from t
          where predicate = ':mentions')
    select distinct m.d, m.e, ee.o as f, m.e||'->'||ee.o as edge
    from m join ee on m.e = ee.s
    where m.e in (':Spark', ':Hash', ':Vector')
"""


_WALK_LEN = 4
_WALKS_PER_NODE = 2


def q_kg_walks(spark, sf_dir):
    """Deterministic random-walk corpus (web/walks.py::random_walks) —
    the DeepWalk/node2vec training-sentence generator — over the sparse
    co-mention subgraph; hash-seeded steps make the corpus reproducible
    across runs, partitionings, and engines."""
    from mhdb_tables2turtles_spark.ops.common import hash60
    from mhdb_tables2turtles_spark.web.walks import random_walks

    edges = q_kg_cooccurrence_edges(spark, sf_dir).filter(
        hash60(F.concat_ws(" ", F.col("src"), F.col("dst"))) % 3 == 0
    )
    return random_walks(
        edges, walk_len=_WALK_LEN, walks_per_node=_WALKS_PER_NODE
    )


def _sql_walks_cte(cooc_sql: str) -> str:
    """The shared walk-corpus CTE chain (everything up to w{_WALK_LEN}),
    reused by the kg_walks and kg_skipgram oracles."""
    seeds = " union all ".join(
        f"select node||'#{w}' as walk_id, node as cur, node as path from n"
        for w in range(_WALKS_PER_NODE)
    )
    parts = [
        f"""e0 as materialized (
            select term_a, term_b from ({cooc_sql})
            where n_docs >= {_PR_MIN_DOCS}
              and ('0x'||substr(md5(term_a||' '||term_b),1,15))::BIGINT
                      % 3 = 0
        ),
        b as (select term_a as node, term_b as nbr from e0
              union select term_b, term_a from e0),
        adj as materialized (
            select node, nbr,
                   row_number() over (partition by node order by nbr)
                       - 1 as idx
            from b),
        deg as materialized (
            select node, count(*) as deg from adj group by node),
        n as (select node from deg),
        w0 as ({seeds})"""
    ]
    for i in range(1, _WALK_LEN + 1):
        parts.append(
            f"""w{i} as (
            select w.walk_id, adj.nbr as cur,
                   w.path||'->'||adj.nbr as path
            from w{i-1} w
            join deg on deg.node = w.cur
            join adj on adj.node = w.cur
             and adj.idx = ('0x'||substr(md5(
                     w.walk_id||'|'||w.cur||'|{i-1}'),1,15))::BIGINT
                 % deg.deg)"""
        )
    return ",\n".join(parts)


def _sql_walks(cooc_sql: str) -> str:
    return (
        "with "
        + _sql_walks_cte(cooc_sql)
        + f"\nselect walk_id, path from w{_WALK_LEN}"
    )


_SKIPGRAM_WINDOW = 2


def q_kg_skipgram(spark, sf_dir):
    """Skip-gram training pairs (web/walks.py::skipgram_pairs) over the
    kg_walks corpus — the actual DeepWalk deliverable: (center,
    context) co-occurrences within a +/-2 window, corpus-aggregated."""
    from mhdb_tables2turtles_spark.web.walks import skipgram_pairs

    # Materialize the walk corpus once: skipgram_pairs self-joins the
    # exploded positions, and without a checkpoint each side of the
    # self-join re-derives the full L-step walk chain (the two slowest
    # r04 bench entries were this query and kg_walks).
    corpus = q_kg_walks(spark, sf_dir).localCheckpoint(eager=True)
    return skipgram_pairs(corpus, window=_SKIPGRAM_WINDOW)


def _sql_skipgram(cooc_sql: str) -> str:
    return f"""
    with {_sql_walks_cte(cooc_sql)},
    toks as materialized (
        select walk_id, arr[i] as node, i
        from (select walk_id, string_split(path, '->') as arr
              from w{_WALK_LEN}),
             unnest(generate_series(1, {_WALK_LEN + 1})) as s(i)
    )
    select a.node as center, b.node as context,
           cast(count(*) as bigint) as n_pairs
    from toks a join toks b using (walk_id)
    where a.i != b.i and abs(a.i - b.i) <= {_SKIPGRAM_WINDOW}
    group by a.node, b.node
"""


def q_kg_shacl_path(spark, sf_dir):
    """SHACL sh:path validation (web/shapes.py::validate_shapes with a
    property-path shape): every doc must have >= 1 TYPED often-mention
    — value nodes are ``:mentionsOften/a`` path pairs, so docs whose
    frequent mentions are all untyped (or that have none) violate
    minCount.  Targets pin the focus universe to all docs."""
    from mhdb_tables2turtles_spark.web.paths import pred, seq
    from mhdb_tables2turtles_spark.web.shapes import validate_shapes

    t = _often_triples(spark, sf_dir, with_types=True)
    docs = (
        t.filter(F.col("predicate") == ":mentions")
        .select(F.col("subject").alias("focus"))
        .distinct()
    )
    shape = {
        "predicate": ":oftenTypedMention",
        "path": seq(pred(":mentionsOften"), pred("a")),
        "min_count": 1,
    }
    return validate_shapes(t, [shape], targets=docs)


def _sql_shacl_path(mentions_sql: str) -> str:
    return f"""
    with m as materialized ({mentions_sql}),
    f as (select distinct {_SQL_DOC_IRI} as focus from m),
    otm as (select distinct {_SQL_DOC_IRI} as s from m
            where n >= {_OFTEN_MIN_N}
              and ('0x'||substr(md5(term),1,15))::BIGINT % 3 != 0)
    select focus, ':oftenTypedMention' as predicate,
           'minCount' as component, '0' as value
    from f where focus not in (select s from otm)
"""


def q_kg_subquery(spark, sf_dir):
    """SPARQL 1.1 subquery: ``SELECT ?ent ?n_docs WHERE {{
    {{ SELECT ?ent (COUNT(?doc) AS ?n_docs)
       WHERE {{ ?doc :mentions ?ent }} GROUP BY ?ent }}
    FILTER (?n_docs > <corpus mean>) }}`` — entities mentioned more
    often than average.  Subqueries need no new operator: compiled
    solution sets ARE DataFrames, so a subselect is ordinary
    composition; the scalar aggregate is the intended 1-row broadcast
    cross join, and the mean comparison cross-multiplies exact BIGINTs
    (``n_docs * k > total``) so no division enters the oracle hash."""
    from mhdb_tables2turtles_spark.web.kgquery import (
        compile_bgp,
        group_solutions,
    )

    b = compile_bgp(
        _often_triples(spark, sf_dir), [("?doc", ":mentions", "?ent")]
    )
    g = group_solutions(b, ["ent"], {"n_docs": "count(doc)"})
    tot = g.agg(
        F.sum("n_docs").alias("__t"), F.count("*").alias("__k")
    )
    return (
        g.crossJoin(F.broadcast(tot))
        .filter(F.col("n_docs") * F.col("__k") > F.col("__t"))
        .select("ent", "n_docs")
    )


def _sql_subquery(mentions_sql: str) -> str:
    return f"""
    with m as ({mentions_sql}),
    b as (select distinct {_SQL_DOC_IRI} as doc, {_SQL_TERM_IRI} as ent
          from m),
    g as (select ent, count(doc) as n_docs from b group by ent),
    t as (select sum(n_docs) as t, count(*) as k from g)
    select ent, cast(n_docs as bigint) as n_docs
    from g, t where n_docs * k > t
"""


def q_kg_filter_exists(spark, sf_dir):
    """SPARQL FILTER EXISTS / NOT EXISTS (web/kgquery.py::compile_bgp):
    ``SELECT ?d ?e WHERE {{ ?d :mentions ?e
    FILTER EXISTS {{ ?e a :Entity }}
    FILTER NOT EXISTS {{ ?d :mentionsOften ?e }} }}`` — typed entities
    only, minus the pairs the doc mentions often; both blocks correlate
    on shared variables (semi/anti join on exactly those columns)."""
    from mhdb_tables2turtles_spark.web.kgquery import compile_bgp

    return compile_bgp(
        _often_triples(spark, sf_dir, with_types=True),
        [("?d", ":mentions", "?e")],
        exists=[("?e", "a", ":Entity")],
        not_exists=[("?d", ":mentionsOften", "?e")],
    )


def _sql_filter_exists(mentions_sql: str) -> str:
    return f"""
    with m as materialized ({mentions_sql}),
    b as (select distinct {_SQL_DOC_IRI} as d, {_SQL_TERM_IRI} as e,
                 term, n from m),
    typed as (select distinct {_SQL_TERM_IRI} as e from m
              where ('0x'||substr(md5(term),1,15))::BIGINT % 3 != 0),
    often as (select distinct {_SQL_DOC_IRI} as d, {_SQL_TERM_IRI} as e
              from m where n >= {_OFTEN_MIN_N})
    select distinct b.d, b.e from b
    join typed using (e)
    anti join often using (d, e)
"""


def q_kg_closeness(spark, sf_dir):
    """Closeness-centrality ingredients (web/structure.py::
    closeness_exact): per node, reached count / distance sum /
    eccentricity within 3 hops over the sparse co-mention subgraph —
    exact integers via per-hop ball deltas, never a distance matrix."""
    from mhdb_tables2turtles_spark.ops.common import hash60
    from mhdb_tables2turtles_spark.web.structure import closeness_exact

    edges = q_kg_cooccurrence_edges(spark, sf_dir).filter(
        hash60(F.concat_ws(" ", F.col("src"), F.col("dst"))) % 3 == 0
    )
    return closeness_exact(edges, max_h=_NEIGH_MAX_H)


def _sql_closeness(cooc_sql: str) -> str:
    parts = [
        f"""with e0 as materialized (
            select term_a, term_b from ({cooc_sql})
            where n_docs >= {_PR_MIN_DOCS}
              and ('0x'||substr(md5(term_a||' '||term_b),1,15))::BIGINT
                      % 3 = 0
        ),
        e as materialized (
            select term_a as u, term_b as v from e0
            union all select term_b, term_a from e0),
        d0 as (select distinct u as s, u as t, 0 as d from e)"""
    ]
    for i in range(1, _NEIGH_MAX_H + 1):
        parts.append(
            f"""d{i} as materialized (
            select s, t, min(d) as d from (
                select s, t, d from d{i-1}
                union all
                select d{i-1}.s, e.v, d{i-1}.d + 1
                from d{i-1} join e on d{i-1}.t = e.u
            ) group by s, t)"""
        )
    return (
        ",\n".join(parts)
        + f"""
    select s as node, cast(count(*) as bigint) as n_reached,
           cast(sum(d) as bigint) as dist_sum,
           cast(max(d) as int) as ecc
    from d{_NEIGH_MAX_H} group by s
"""
    )


def q_kg_cocitation(spark, sf_dir):
    """Co-citation relatedness (web/graphrank.py::cocitation) over the
    hash-directed co-mention graph: entity pairs endorsed by >= 2
    common in-neighbors."""
    from mhdb_tables2turtles_spark.web.graphrank import cocitation

    return cocitation(q_kg_directed_edges(spark, sf_dir), min_common=2)


def _sql_cocitation(cooc_sql: str) -> str:
    return f"""
    with {_sql_directed_cte(cooc_sql, include_reach=False).strip()}
    select a.v as node_a, b.v as node_b,
           cast(count(*) as bigint) as n_common
    from e a join e b on a.u = b.u
    where a.v < b.v
    group by a.v, b.v
    having count(*) >= 2
"""


def q_kg_adamic_adar(spark, sf_dir):
    """Adamic-Adar link prediction (web/graphrank.py::adamic_adar)
    over the same hash-dropped co-mention fixture as kg_link_predict —
    fixed-point 1/log2-degree weights via the portable bin() device."""
    from mhdb_tables2turtles_spark.ops.common import hash60
    from mhdb_tables2turtles_spark.web.graphrank import adamic_adar

    edges = q_kg_cooccurrence_edges(spark, sf_dir).filter(
        hash60(F.concat_ws(" ", F.col("src"), F.col("dst"))) % 3 == 0
    )
    return adamic_adar(edges)


def _sql_adamic_adar(cooc_sql: str) -> str:
    return f"""
    with e0 as materialized (
        select term_a, term_b from ({cooc_sql})
        where n_docs >= {_PR_MIN_DOCS}
          and ('0x'||substr(md5(term_a||' '||term_b),1,15))::BIGINT
                  % 3 = 0
    ),
    e as materialized (
        select term_a as u, term_b as v from e0
        union select term_b, term_a from e0),
    deg as (select u, count(*) as deg from e group by u),
    adj as materialized (
        select e.u, e.v,
               10000 // greatest(1, length(bin(deg.deg)) - 1) as w
        from e join deg using (u)),
    wedges as (
        select a.v as node_a, b.v as node_b,
               cast(count(*) as bigint) as n_common,
               cast(sum(a.w) as bigint) as aa_bp
        from adj a join adj b on a.u = b.u
        where a.v < b.v
        group by a.v, b.v)
    select w.* from wedges w
    anti join (select u as node_a, v as node_b from e where u < v) x
    using (node_a, node_b)
"""


def q_kg_harmonic(spark, sf_dir):
    """Harmonic centrality (web/structure.py::closeness_exact with
    harmonic=True): Σ 1/d in integer basis points within 3 hops —
    the Boldi-Vigna-recommended centrality for graphs with
    unreachable pairs."""
    from mhdb_tables2turtles_spark.ops.common import hash60
    from mhdb_tables2turtles_spark.web.structure import closeness_exact

    edges = q_kg_cooccurrence_edges(spark, sf_dir).filter(
        hash60(F.concat_ws(" ", F.col("src"), F.col("dst"))) % 3 == 0
    )
    return closeness_exact(
        edges, max_h=_NEIGH_MAX_H, harmonic=True
    ).select("node", "harm_bp")


def _sql_harmonic(cooc_sql: str) -> str:
    base = _sql_closeness(cooc_sql).rsplit("select s as node", 1)[0]
    return (
        base
        + f"""select s as node,
           cast(sum(case when d > 0 then 10000 // d else 0 end)
                as bigint) as harm_bp
    from d{_NEIGH_MAX_H} group by s
"""
    )


_TOP_K = 5


def q_kg_top_entities(spark, sf_dir):
    """SPARQL solution modifiers (web/kgquery.py::solution_modifiers)
    over an aggregation: ``SELECT ?ent (COUNT(?doc) AS n_docs) WHERE
    {{ ?doc :mentions ?ent }} GROUP BY ?ent ORDER BY DESC(?n_docs)
    ?ent LIMIT 5`` — compiles to TakeOrderedAndProject (per-partition
    top-k, size-k merge), never a global sort shuffle.  Fully
    tie-broken ordering so the top-k SET is deterministic."""
    from mhdb_tables2turtles_spark.web.kgquery import (
        compile_bgp,
        group_solutions,
        solution_modifiers,
    )

    b = compile_bgp(
        _often_triples(spark, sf_dir), [("?doc", ":mentions", "?ent")]
    )
    g = group_solutions(b, ["ent"], {"n_docs": "count(doc)"})
    return solution_modifiers(
        g, order_by=[("n_docs", "desc"), ("ent", "asc")], limit=_TOP_K
    )


def _sql_top_entities(mentions_sql: str) -> str:
    return f"""
    with m as ({mentions_sql}),
    b as (select distinct {_SQL_DOC_IRI} as doc, {_SQL_TERM_IRI} as ent
          from m)
    select ent, count(doc) as n_docs from b group by ent
    order by n_docs desc, ent asc limit {_TOP_K}
"""


def q_kg_ask(spark, sf_dir):
    """SPARQL ASK (web/kgquery.py::ask): boolean existence for a
    satisfiable and an unsatisfiable pattern, labeled — LocalLimit(1)
    short-circuits the scan at the first solution."""
    from mhdb_tables2turtles_spark.web.kgquery import ask

    t = _often_triples(spark, sf_dir)
    sat = ask(t, [("?d", ":mentions", ":Spark")])
    unsat = ask(t, [("?d", ":mentions", ":NoSuchEntity")])
    return sat.select(
        F.lit("mentions_spark").alias("query"), F.col("exists")
    ).unionByName(
        unsat.select(
            F.lit("mentions_no_such").alias("query"), F.col("exists")
        )
    )


def _sql_ask(mentions_sql: str) -> str:
    return f"""
    with m as materialized ({mentions_sql}),
    b as (select distinct {_SQL_DOC_IRI} as doc, {_SQL_TERM_IRI} as ent
          from m)
    select 'mentions_spark' as query,
           exists (select 1 from b where ent = ':Spark') as "exists"
    union all
    select 'mentions_no_such',
           exists (select 1 from b where ent = ':NoSuchEntity')
"""


# --------------------------------------------------- global structure

# Deterministic DIRECTED fixture over the co-mention graph: each
# undirected pair is directed (or dropped) by its md5 bucket, giving a
# web-like mix of one-way links, reciprocal pairs, and absent edges —
# the same self-contained-fixture device as kg_link_predict's edge
# drop.  Buckets: 0-2 forward, 3-5 reverse, 6 reciprocal, 7-9 dropped.


def q_kg_directed_edges(spark, sf_dir):
    from mhdb_tables2turtles_spark.ops.common import hash60

    und = q_kg_cooccurrence_edges(spark, sf_dir)
    h = (hash60(F.concat_ws(" ", F.col("src"), F.col("dst"))) % 10).alias(
        "h"
    )
    d = und.select("src", "dst", h)
    fwd = d.filter(F.col("h") < 3).select("src", "dst")
    rev = d.filter((F.col("h") >= 3) & (F.col("h") < 6)).select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    cyc = d.filter(F.col("h") == 6)
    return (
        fwd.unionByName(rev)
        .unionByName(cyc.select("src", "dst"))
        .unionByName(
            cyc.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .localCheckpoint(eager=True)
    )


def _sql_directed_cte(cooc_sql: str, include_reach: bool = True) -> str:
    base = f"""
    d as materialized (
          select term_a as a, term_b as b,
                 ('0x'||substr(md5(term_a||' '||term_b),1,15))::BIGINT
                     % 10 as h
          from ({cooc_sql}) where n_docs >= {_PR_MIN_DOCS}),
    e as materialized (
          select a as u, b as v from d where h < 3
          union select b, a from d where h >= 3 and h < 6
          union select a, b from d where h = 6
          union select b, a from d where h = 6),
    n as materialized (select u as node from e union select v from e)"""
    if not include_reach:
        return base
    return (
        base
        + """,
    reach(s, t) as (
        select u, v from e
        union
        select r.s, e.v from reach r join e on r.t = e.u
    )"""
    )


def q_kg_scc(spark, sf_dir):
    """Strongly connected components of the hash-directed co-mention
    graph (web/structure.py::strongly_connected_components — Orzan
    coloring); scc_id = min member, so the oracle is mutual
    recursive-CTE reachability."""
    from mhdb_tables2turtles_spark.web.structure import (
        strongly_connected_components,
    )

    return strongly_connected_components(
        q_kg_directed_edges(spark, sf_dir)
    )


def _sql_scc(cooc_sql: str) -> str:
    return f"""
    with recursive {_sql_directed_cte(cooc_sql).strip()},
    reach_m as materialized (select s, t from reach),
    mutual as (
        select a.s as u, a.t as v
        from reach_m a join reach_m b on b.s = a.t and b.t = a.s
    )
    select n.node,
           least(n.node, coalesce(min(m.v), n.node)) as scc_id
    from n left join mutual m on m.u = n.node
    group by n.node
"""


def q_kg_bowtie(spark, sf_dir):
    """Broder bow-tie decomposition of the hash-directed co-mention
    graph (web/structure.py::bowtie_decomposition): six (component,
    n_nodes) rows — CORE/IN/OUT/TUBES/TENDRILS/DISCONNECTED."""
    from mhdb_tables2turtles_spark.web.structure import (
        bowtie_decomposition,
    )

    return bowtie_decomposition(q_kg_directed_edges(spark, sf_dir))


def _sql_bowtie(cooc_sql: str) -> str:
    # Every non-recursive CTE is AS MATERIALIZED: DuckDB inlines plain
    # CTEs per-reference, and `reach` embeds the whole document-mention
    # scan — without materialization the closure re-evaluates once per
    # reference (and per correlated row), turning a 12-node oracle into
    # minutes.  Classification is pure semi-joins, no correlated EXISTS.
    return f"""
    with recursive {_sql_directed_cte(cooc_sql).strip()},
    reach_m as materialized (select s, t from reach),
    mutual as materialized (
        select a.s as u, a.t as v
        from reach_m a join reach_m b on b.s = a.t and b.t = a.s
    ),
    scc as materialized (
        select n.node,
               least(n.node, coalesce(min(m.v), n.node)) as scc_id
        from n left join mutual m on m.u = n.node
        group by n.node
    ),
    core_pick as materialized (
        select scc_id from scc group by scc_id
        order by count(*) desc, scc_id limit 1
    ),
    core as materialized (
        select node from scc
        where scc_id = (select scc_id from core_pick)),
    outs as materialized (
        select distinct r.t as node from reach_m r
        join core c on r.s = c.node
        where r.t not in (select node from core)
    ),
    ins as materialized (
        select distinct r.s as node from reach_m r
        join core c on r.t = c.node
        where r.s not in (select node from core)
    ),
    rest as materialized (
        select node from n
        where node not in (select node from core)
          and node not in (select node from outs)
          and node not in (select node from ins)
    ),
    from_in as materialized (
        select distinct r.t as node from reach_m r
        join ins i on r.s = i.node
        join rest on rest.node = r.t
    ),
    to_out as materialized (
        select distinct r.s as node from reach_m r
        join outs o on r.t = o.node
        join rest on rest.node = r.s
    ),
    tubes as materialized (
        select node from from_in
        where node in (select node from to_out)),
    tendrils as materialized (
        select node from (select node from from_in
                          union select node from to_out)
        where node not in (select node from tubes)
    ),
    disconnected as materialized (
        select node from rest
        where node not in (select node from tubes)
          and node not in (select node from tendrils)
    ),
    counts as (
        select 'CORE' as component,
               (select count(*) from core) as n_nodes
        union all select 'IN', (select count(*) from ins)
        union all select 'OUT', (select count(*) from outs)
        union all select 'TUBES', (select count(*) from tubes)
        union all select 'TENDRILS', (select count(*) from tendrils)
        union all select 'DISCONNECTED',
                  (select count(*) from disconnected)
    )
    select component, cast(n_nodes as bigint) as n_nodes from counts
"""


_NEIGH_MAX_H = 3


def q_kg_neighborhood(spark, sf_dir):
    """Exact neighborhood function N(h) for h = 0..3 over the sparse
    co-mention subgraph (web/structure.py::neighborhood_function,
    exact mode — the HyperBall HLL mode is the web-scale twin)."""
    from mhdb_tables2turtles_spark.ops.common import hash60
    from mhdb_tables2turtles_spark.web.structure import (
        neighborhood_function,
    )

    edges = q_kg_cooccurrence_edges(spark, sf_dir).filter(
        hash60(F.concat_ws(" ", F.col("src"), F.col("dst"))) % 3 == 0
    )
    return neighborhood_function(edges, max_h=_NEIGH_MAX_H, mode="exact")


def _sql_neighborhood(cooc_sql: str) -> str:
    parts = [
        f"""with e0 as (
            select term_a, term_b from ({cooc_sql})
            where n_docs >= {_PR_MIN_DOCS}
              and ('0x'||substr(md5(term_a||' '||term_b),1,15))::BIGINT
                      % 3 = 0
        ),
        e as (select term_a as u, term_b as v from e0
              union all select term_b, term_a from e0),
        p0 as (select distinct u as s, u as t from e)"""
    ]
    for i in range(1, _NEIGH_MAX_H + 1):
        parts.append(
            f"""p{i} as (
            select s, t from p{i-1}
            union
            select p{i-1}.s, e.v from p{i-1} join e on p{i-1}.t = e.u)"""
        )
    selects = [
        f"select {h} as hop, cast(count(*) as bigint) as reachable_pairs"
        f" from p{h}"
        for h in range(_NEIGH_MAX_H + 1)
    ]
    return ",\n".join(parts) + "\n" + "\nunion all\n".join(selects)


GRAPH_QUERIES = {
    "kg_pagerank": q_kg_pagerank,
    "embed_ivf": q_embed_ivf,
    "embed_ivf_search": q_embed_ivf_search,
    "events_asof": q_events_asof,
    "events_range_join": q_events_range_join,
    "kg_triangles": q_kg_triangles,
    "kg_hops": q_kg_hops,
    "kg_lpa": q_kg_lpa,
    "kg_link_predict": q_kg_link_predict,
    "kg_star_join": q_kg_star_join,
    "kg_triple_diff": q_kg_triple_diff,
    "kg_kcore": q_kg_kcore,
    "events_snapshot": q_events_snapshot,
    "kg_components_incremental": q_kg_components_incremental,
    "kg_chain_join": q_kg_chain_join,
    "kg_clustering": q_kg_clustering,
    "kg_optional_join": q_kg_optional_join,
    "events_rollup": q_events_rollup,
    "kg_edge_lift": q_kg_edge_lift,
    "kg_degree_hist": q_kg_degree_hist,
    "kg_bgp_compile": q_kg_bgp_compile,
    "kg_construct_rule": q_kg_construct_rule,
    "kg_property_table": q_kg_property_table,
    "kg_union_join": q_kg_union_join,
    "kg_minus_filter": q_kg_minus_filter,
    "kg_path_closure": q_kg_path_closure,
    "kg_rdfs_closure": q_kg_rdfs_closure,
    "kg_shacl_report": q_kg_shacl_report,
    "kg_ppr": q_kg_ppr,
    "kg_canonical_triples": q_kg_canonical_triples,
    "kg_hits": q_kg_hits,
    "kg_void_stats": q_kg_void_stats,
    "kg_rule_support": q_kg_rule_support,
    "kg_reciprocity": q_kg_reciprocity,
    "kg_owl_closure": q_kg_owl_closure,
    "kg_group_agg": q_kg_group_agg,
    "kg_char_sets": q_kg_char_sets,
    "kg_path_query": q_kg_path_query,
    "kg_bgp_optimized": q_kg_bgp_optimized,
    "kg_describe": q_kg_describe,
    "kg_assortativity": q_kg_assortativity,
    "kg_named_graphs": q_kg_named_graphs,
    "kg_values_bind": q_kg_values_bind,
    "kg_scc": q_kg_scc,
    "kg_bowtie": q_kg_bowtie,
    "kg_neighborhood": q_kg_neighborhood,
    "kg_top_entities": q_kg_top_entities,
    "kg_ask": q_kg_ask,
    "kg_filter_exists": q_kg_filter_exists,
    "kg_subquery": q_kg_subquery,
    "kg_shacl_path": q_kg_shacl_path,
    "kg_walks": q_kg_walks,
    "kg_skipgram": q_kg_skipgram,
    "kg_closeness": q_kg_closeness,
    "kg_cocitation": q_kg_cocitation,
    "kg_harmonic": q_kg_harmonic,
    "kg_adamic_adar": q_kg_adamic_adar,
    "events_rollup_refresh": q_events_rollup_refresh,
}


def graph_oracles(
    cooc_sql: str, mentions_sql: str, triples_sql: str
) -> dict[str, str]:
    return {
        "kg_pagerank": _sql_pagerank(cooc_sql),
        "embed_ivf": _sql_ivf(),
        "embed_ivf_search": _sql_ivf_search(),
        "events_asof": _SQL_EVENTS_ASOF,
        "events_range_join": _SQL_EVENTS_RANGE,
        "kg_triangles": _sql_triangles(cooc_sql),
        "kg_hops": _sql_bfs(cooc_sql),
        "kg_lpa": _sql_lpa(cooc_sql),
        "kg_link_predict": _sql_link_predict(cooc_sql),
        "kg_star_join": _sql_star(triples_sql),
        "kg_triple_diff": _sql_triple_diff(mentions_sql),
        "kg_kcore": _sql_kcore(cooc_sql),
        "events_snapshot": _SQL_EVENTS_SNAPSHOT,
        "kg_components_incremental": _sql_components_incremental(cooc_sql),
        "kg_chain_join": _sql_chain(cooc_sql, triples_sql),
        "kg_clustering": _sql_clustering(cooc_sql),
        "kg_optional_join": _sql_optional(mentions_sql),
        "events_rollup": _SQL_EVENTS_ROLLUP,
        "kg_edge_lift": _sql_edge_lift(cooc_sql, mentions_sql),
        "kg_degree_hist": _sql_degree_hist(cooc_sql),
        "kg_bgp_compile": _sql_bgp_compile(cooc_sql, triples_sql),
        "kg_construct_rule": _sql_construct(cooc_sql, triples_sql),
        "kg_property_table": _sql_property_table(mentions_sql),
        "kg_union_join": _sql_union(mentions_sql),
        "kg_minus_filter": _sql_minus(mentions_sql),
        "kg_path_closure": _sql_path_closure(cooc_sql),
        "kg_rdfs_closure": _sql_rdfs_closure(cooc_sql, mentions_sql),
        "kg_shacl_report": _sql_shacl(mentions_sql),
        "kg_ppr": _sql_ppr(cooc_sql),
        "kg_canonical_triples": _sql_canonical_triples(
            cooc_sql, triples_sql
        ),
        "kg_hits": _sql_hits(cooc_sql),
        "kg_void_stats": _sql_void_stats(cooc_sql, triples_sql),
        "kg_rule_support": _sql_rule_support(cooc_sql, triples_sql),
        "kg_reciprocity": _sql_reciprocity(cooc_sql),
        "kg_owl_closure": _sql_owl_closure(cooc_sql),
        "kg_group_agg": _sql_group_agg(mentions_sql),
        "kg_char_sets": _sql_char_sets(mentions_sql),
        "kg_path_query": _sql_path_query(cooc_sql, triples_sql),
        "kg_bgp_optimized": _sql_bgp_optimized(cooc_sql, triples_sql),
        "kg_describe": _sql_describe(cooc_sql, triples_sql),
        "kg_assortativity": _sql_assortativity(cooc_sql),
        "kg_named_graphs": _sql_named_graphs(mentions_sql),
        "kg_values_bind": _sql_values_bind(cooc_sql, triples_sql),
        "kg_scc": _sql_scc(cooc_sql),
        "kg_bowtie": _sql_bowtie(cooc_sql),
        "kg_neighborhood": _sql_neighborhood(cooc_sql),
        "kg_top_entities": _sql_top_entities(mentions_sql),
        "kg_ask": _sql_ask(mentions_sql),
        "kg_filter_exists": _sql_filter_exists(mentions_sql),
        "kg_subquery": _sql_subquery(mentions_sql),
        "kg_shacl_path": _sql_shacl_path(mentions_sql),
        "kg_walks": _sql_walks(cooc_sql),
        "kg_skipgram": _sql_skipgram(cooc_sql),
        "kg_closeness": _sql_closeness(cooc_sql),
        "kg_cocitation": _sql_cocitation(cooc_sql),
        "kg_harmonic": _sql_harmonic(cooc_sql),
        "kg_adamic_adar": _sql_adamic_adar(cooc_sql),
        "events_rollup_refresh": _SQL_EVENTS_ROLLUP_REFRESH,
    }
