"""Property-based tests (hypothesis) — SURVEY §5 strategy item 4.

Few examples, deadline off: each example spins Spark jobs, so we trade
example count for structural diversity of the generated relations.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from sales_azure_data_engineer_project_spark.operators.dimensions import (
    DimensionSpec,
    assign_surrogate_keys,
    build_scd1_dimension,
)
from sales_azure_data_engineer_project_spark.operators.upsert import merge_upsert

SLOW = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

keys = st.lists(
    st.text(alphabet="abcdef", min_size=1, max_size=4), min_size=1, max_size=12, unique=True
)


@SLOW
@given(nks=keys)
def test_dense_keys_always_dense_and_unique(spark, nks):
    rows = [(None, k) for k in nks] + [(3, None)]  # a keyed row: offset 3
    df = spark.createDataFrame(rows, "key long, nk string").repartition(4)
    out = assign_surrogate_keys(df, "key", ["nk"]).where("nk IS NOT NULL")
    got = sorted(r["key"] for r in out.collect())
    assert got == list(range(4, 4 + len(nks)))


@SLOW
@given(
    target=st.dictionaries(st.integers(0, 20), st.text(max_size=3), max_size=10),
    source=st.dictionaries(st.integers(0, 20), st.text(max_size=3), max_size=10),
)
def test_merge_upsert_is_dict_update(spark, target, source):
    """merge_upsert ≡ Python dict.update on the key→value map."""
    tdf = spark.createDataFrame(list(target.items()) or [(None, None)], "k int, v string")
    sdf = spark.createDataFrame(list(source.items()) or [(None, None)], "k int, v string")
    tdf = tdf.filter("k IS NOT NULL")
    sdf = sdf.filter("k IS NOT NULL")
    out = {r["k"]: r["v"] for r in merge_upsert(tdf, sdf, ["k"]).collect()}
    expected = {**target, **source}
    assert out == expected


@SLOW
@given(
    batch1=st.lists(st.sampled_from("abcdefgh"), min_size=1, max_size=8, unique=True),
    batch2=st.lists(st.sampled_from("abcdefgh"), min_size=1, max_size=8, unique=True),
)
def test_scd1_two_batches_keys_stable_and_dense(spark, batch1, batch2):
    """After any two batches: keys dense 1..n over the union of natural
    keys, and batch-1 keys never change."""
    spec = DimensionSpec("d", "key", "nk", ())
    s1 = spark.createDataFrame([(k,) for k in batch1], ["nk"])
    d1 = build_scd1_dimension(s1, spark.createDataFrame([], "key long, nk string"), spec)
    k1 = {r["nk"]: r["key"] for r in d1.collect()}
    s2 = spark.createDataFrame([(k,) for k in batch2], ["nk"])
    d2 = build_scd1_dimension(s2, d1, spec)
    k2 = {r["nk"]: r["key"] for r in d2.collect()}

    assert set(k2) == set(batch1) | set(batch2)
    assert sorted(k2.values()) == list(range(1, len(k2) + 1))
    for nk, key in k1.items():
        assert k2[nk] == key


def _nulls_first(row):
    return tuple((0,) if v is None else (1, v) for v in row)


def _scd1_fold(rows, batch, width):
    """Pure-Python SCD-1 fold of one batch (a set of natural-column
    tuples, the natural key first ``width``) into rows ``(key, *cols)``.
    Raises when the batch holds two variants of a natural key the rows
    hold."""
    held = {r[1:1 + width] for r in rows}
    variants = {}
    for v in batch:
        variants.setdefault(v[:width], []).append(v)
    out = []
    for key, *cols in rows:
        nk = tuple(cols[:width])
        src = [] if None in nk else variants.get(nk, [])
        if len(src) > 1:
            raise ValueError("multiple source rows")
        out.append((key, *(src[0] if src else cols)))  # updated or vanished
    new = [v for v in batch if None in v[:width] or v[:width] not in held]
    next_key = max((r[0] for r in rows), default=0) + 1
    out += [(next_key + i, *v) for i, v in enumerate(sorted(new, key=_nulls_first))]
    return out


_SCD1_SHAPES = {
    # (spec, source schema): one natural-key column, or dim_calendar's
    # (Year, Month, Day) composite with its date_iso attribute
    "single": (DimensionSpec("d", "key", "nk", ("attr",)), "nk string, attr string"),
    "calendar": (
        DimensionSpec("d", "key", ("Year", "Month", "Day"), ("date_iso",)),
        "Year int, Month int, Day int, date_iso string",
    ),
}
_attr = st.sampled_from(["x", "y", None])
_single_rows = st.lists(st.tuples(st.sampled_from(["a", "b", "c", None]), _attr), max_size=5)
_calendar_rows = st.lists(
    st.tuples(
        st.sampled_from([2020, 2021]), st.sampled_from([1, None]), st.sampled_from([1, 2]), _attr
    ),
    max_size=5,
)
scd1_cases = st.one_of(
    st.tuples(st.just("single"), _single_rows, _single_rows),
    st.tuples(st.just("calendar"), _calendar_rows, _calendar_rows),
)


@SLOW
@example(case=(  # FD-violating variants of a new key, then a sink holding
    "single",    # two keys for one natural key, a vanished key and a NULL key
    [("a", "x"), ("a", "y"), ("b", "x"), (None, "x")],
    [("a", None), ("c", "x"), (None, "x"), (None, "y")],
))
@example(case=("single", [("a", "x")], [("a", "x"), ("a", "y")]))  # raises
@example(case=(
    "calendar",
    [(2020, 1, 1, "x"), (2020, None, 1, "x"), (2021, 1, 2, "y")],
    [(2020, 1, 1, "y"), (2020, None, 1, "y"), (2020, 1, 2, None)],
))
@given(case=scd1_cases)
def test_scd1_matches_python_fold(spark, case):
    """Differential: two batches through ``build_scd1_dimension`` yield
    exactly the rows of a pure-Python SCD-1 fold — FD-violating variants
    of a new key each get a key, a sink row takes the attributes of its
    key's one source variant, vanished rows stay, NULL natural keys never
    match, new keys are dense from max+1 in natural-column order (nulls
    first) — and a new variant of a natural key the sink holds raises."""
    shape, batch1, batch2 = case
    spec, schema = _SCD1_SHAPES[shape]
    width = len(spec.nk_cols)
    dim_schema = f"key long, {schema}"
    want = _scd1_fold([], set(batch1), width)
    empty = spark.createDataFrame([], dim_schema)
    d1 = build_scd1_dimension(spark.createDataFrame(batch1, schema), empty, spec)
    got = [tuple(r) for r in d1.collect()]
    assert sorted(got, key=_nulls_first) == sorted(want, key=_nulls_first)
    assert sorted(r[0] for r in got) == list(range(1, len(got) + 1))

    sink = spark.createDataFrame(got, dim_schema)
    d2 = build_scd1_dimension(spark.createDataFrame(batch2, schema), sink, spec)
    try:
        want = _scd1_fold(want, set(batch2), width)
    except ValueError:
        with pytest.raises(Exception, match="multiple source rows"):
            d2.collect()
        return
    got = [tuple(r) for r in d2.collect()]
    assert sorted(got, key=_nulls_first) == sorted(want, key=_nulls_first)
    assert sorted(r[0] for r in got) == list(range(1, len(got) + 1))


@SLOW
@given(
    trades=st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 50)), min_size=1, max_size=12
    ),
    quotes=st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 50)), min_size=0, max_size=12
    ),
)
def test_asof_join_matches_pandas_merge_asof(spark, trades, quotes):
    """Differential: our union-window as-of join ≡ pandas.merge_asof
    (backward, inclusive) on arbitrary small inputs."""
    import pandas as pd

    from sales_azure_data_engineer_project_spark.operators.asof import asof_join

    # unique (key, ts) per side: merge_asof tie semantics among equal
    # right timestamps are positional, ours are tie-break-ordered — both
    # well-defined only without intra-key ts duplicates
    trades = list({(k, t) for k, t in trades})
    quotes = list({(k, t) for k, t in quotes})
    tdf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(trades)], ["sym", "ts", "tid"]
    )
    qdf = spark.createDataFrame(
        [(k, t, float(100 * k + t)) for k, t in quotes] or [(99, 0, 0.0)],
        ["sym", "ts", "px"],
    )
    got = {
        r["tid"]: r["px"]
        for r in asof_join(
            tdf, qdf, on="sym", left_ts="ts", right_ts="ts", payload=["px"]
        ).collect()
    }

    tp = pd.DataFrame(
        [(k, t, i) for i, (k, t) in enumerate(trades)], columns=["sym", "ts", "tid"]
    ).sort_values("ts", kind="stable")
    qp = pd.DataFrame(
        [(k, t, float(100 * k + t)) for k, t in quotes] or [(99, 0, 0.0)],
        columns=["sym", "ts", "px"],
    ).sort_values("ts", kind="stable")
    merged = pd.merge_asof(tp, qp, on="ts", by="sym", direction="backward")
    want = {
        int(r.tid): (None if pd.isna(r.px) else float(r.px))
        for r in merged.itertuples()
    }
    assert got == want


def test_connected_components_vs_union_find(spark):
    """Differential: Spark iterative CC against a driver-side union-find
    on seeded random graphs (stars, chains, isolated nodes, cycles)."""
    import random

    from sales_azure_data_engineer_project_spark.operators.graph import (
        connected_components,
    )

    for seed in (11, 23, 47):
        rng = random.Random(seed)
        n = 120
        edges = set()
        # chains + stars + a cycle, plus random noise edges
        for start in range(0, 30, 6):
            for i in range(start, start + 5):
                edges.add((i, i + 1))  # chains of 6
        center = rng.randrange(40, 60)
        for _ in range(8):
            edges.add((center, rng.randrange(60, 90)))  # star
        edges.update([(100, 101), (101, 102), (102, 100)])  # cycle
        for _ in range(10):
            a, b = rng.randrange(n), rng.randrange(n)
            if a != b:
                edges.add((min(a, b), max(a, b)))

        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expected = {i: find(i) for i in range(n)}

        nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
        edf = spark.createDataFrame(
            [(a, b) for a, b in sorted(edges)], "src long, dst long"
        )
        got = {
            r["id"]: r["component"]
            for r in connected_components(nodes, edf).collect()
        }
        assert got == expected, f"seed {seed}"


def test_merge_upsert_idempotent_and_scd1_property(spark):
    """Property (seeded): re-merging the same source is a no-op
    (idempotency — the reference's rerunnable-batch contract), source
    wins on every key collision, and non-matching target rows survive."""
    import random

    from sales_azure_data_engineer_project_spark.operators.upsert import merge_upsert

    for seed in (3, 17, 91):
        rng = random.Random(seed)
        tgt_keys = rng.sample(range(100), 40)
        src_keys = rng.sample(range(100), 30)
        target = spark.createDataFrame(
            [(k, f"t{k}") for k in tgt_keys], "k long, v string"
        )
        source = spark.createDataFrame(
            [(k, f"s{k}") for k in src_keys], "k long, v string"
        )
        once = merge_upsert(target, source, ["k"])
        twice = merge_upsert(once, source, ["k"])
        got_once = {r["k"]: r["v"] for r in once.collect()}
        got_twice = {r["k"]: r["v"] for r in twice.collect()}
        assert got_once == got_twice, f"not idempotent (seed {seed})"
        expected = {k: f"t{k}" for k in tgt_keys} | {k: f"s{k}" for k in src_keys}
        assert got_once == expected, f"SCD-1 win rule broken (seed {seed})"


def test_asof_same_source_equals_generic(spark):
    """The single-scan same-source fast path must produce exactly the
    generic two-frame asof_join's result on seeded random event data,
    including equal-timestamp ties (tiebreak) and no-match NULLs."""
    import random

    from pyspark.sql import functions as F

    from sales_azure_data_engineer_project_spark.operators.asof import (
        asof_join,
        asof_join_same_source,
    )

    rng = random.Random(42)
    rows = []
    eid = 0
    for user in range(8):
        for _ in range(40):
            eid += 1
            # coarse ts grid → plenty of equal-ts collisions
            rows.append(
                (eid, user, rng.choice(["click", "purchase", "view"]),
                 rng.randrange(20) * 1000, float(rng.randrange(100)))
            )
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts_us long, value double"
    )

    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts_us"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts_us"),
        "event_id",
        F.col("ts_us").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    generic = asof_join(
        clicks,
        purchases,
        on="user_id",
        left_ts="ts_us",
        right_ts="ts_us",
        payload=["p_ts", "p_value"],
        right_tiebreak="event_id",
    )
    fast = asof_join_same_source(
        ev,
        on="user_id",
        ts="ts_us",
        is_left=F.col("event_type") == "click",
        is_right=F.col("event_type") == "purchase",
        left_cols=["event_id", "user_id", "ts_us"],
        payload={"p_ts": "ts_us", "p_value": "value"},
        right_tiebreak="event_id",
    )
    key = lambda r: (r["event_id"], r["user_id"], r["ts_us"], r["p_ts"], r["p_value"])  # noqa: E731
    assert sorted(map(key, generic.collect())) == sorted(map(key, fast.collect()))


def test_funnel_window_form_vs_reference(spark):
    """The one-scan window-chain funnel must equal the step-by-step
    reference computation on seeded data with equal-ts collisions."""
    import random

    from pyspark.sql import functions as F

    from sales_azure_data_engineer_project_spark.queries_analytics import events_funnel

    rng = random.Random(99)
    rows = []
    for user in range(30):
        for _ in range(rng.randrange(1, 15)):
            rows.append(
                (user, rng.choice(["signup", "click", "purchase", "view"]),
                 rng.randrange(10) * 1_000_000)
            )
    # reference: t1 = min signup; t2 = min click > t1; t3 = min purchase > t2
    from collections import defaultdict

    by_user = defaultdict(list)
    for u, et, ts in rows:
        by_user[u].append((et, ts))
    s1 = s2 = s3 = 0
    for evs in by_user.values():
        t1 = min((ts for et, ts in evs if et == "signup"), default=None)
        if t1 is None:
            continue
        s1 += 1
        t2 = min((ts for et, ts in evs if et == "click" and ts > t1), default=None)
        if t2 is None:
            continue
        s2 += 1
        t3 = min((ts for et, ts in evs if et == "purchase" and ts > t2), default=None)
        if t3 is not None:
            s3 += 1

    import os
    import tempfile

    # events_funnel loads from a sf_dir; write a miniature corpus
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            [(i, u, et, ts, 0.0) for i, (u, et, ts) in enumerate(rows)],
            "event_id long, user_id long, event_type string, ts_us long, value double",
        ).select(
            "event_id", "user_id", "event_type",
            F.timestamp_micros("ts_us").alias("ts"), "value",
        ).write.parquet(os.path.join(td, "events.parquet"))
        got = {r["step"]: r["n_users"] for r in events_funnel(spark, td).collect()}
    assert got == {
        "step1_signup": s1,
        "step2_click": s2,
        "step3_purchase": s3,
    }


def test_q21_window_form_vs_reference(spark):
    """The one-scan two-max Q21 must equal the brute-force EXISTS /
    NOT-EXISTS reference on seeded data, including orders where several
    suppliers tie on the max ship date."""
    import os
    import random
    import tempfile
    from collections import defaultdict

    from sales_azure_data_engineer_project_spark.queries_analytics import (
        q21_waiting_orders,
    )

    rng = random.Random(7)
    lineitem = []
    for ok in range(60):
        for _ in range(rng.randrange(1, 6)):
            # tiny date grid → frequent max-date ties, incl. cross-supplier
            lineitem.append((ok, rng.randrange(1, 8), rng.randrange(5)))
    orders = [(ok, rng.choice(["F", "O"])) for ok in range(60)]
    supplier = [(sk, f"S#{sk:03d}") for sk in range(1, 8)]

    status = dict(orders)
    by_order = defaultdict(list)
    for ok, sk, d in lineitem:
        by_order[ok].append((sk, d))
    expected = defaultdict(int)
    for ok, rows in by_order.items():
        if status[ok] != "F":
            continue
        for sk, d in rows:
            if not any(o_sk != sk for o_sk, _ in rows):
                continue
            if any(o_sk != sk and o_d > d for o_sk, o_d in rows):
                continue
            expected[f"S#{sk:03d}"] += 1

    with tempfile.TemporaryDirectory() as td:
        from pyspark.sql import functions as F

        spark.createDataFrame(
            [(ok, sk, 1, d) for ok, sk, d in lineitem],
            "l_orderkey long, l_suppkey long, l_linenumber int, d int",
        ).select(
            "l_orderkey", "l_suppkey", "l_linenumber",
            F.expr("timestampadd(DAY, d, TIMESTAMP '2024-01-01')").alias("l_shipdate"),
        ).write.parquet(os.path.join(td, "lineitem.parquet"))
        spark.createDataFrame(
            orders, "o_orderkey long, o_orderstatus string"
        ).write.parquet(os.path.join(td, "orders.parquet"))
        spark.createDataFrame(
            supplier, "s_suppkey long, s_name string"
        ).write.parquet(os.path.join(td, "supplier.parquet"))
        got = {
            r["s_name"]: r["numwait"] for r in q21_waiting_orders(spark, td).collect()
        }
    assert got == dict(expected)


def test_partition_count_invariance(spark):
    """Results must not depend on parallelism — the distributed-
    correctness axis the DuckDB oracle can't see (it runs at one fixed
    conf).  Order-dependent float accumulation, per-partition state
    leaks, or nondeterministic tie-breaks would all show up as a diff
    between shuffle.partitions=3 and =32.  Representatives: a float-free
    agg pipeline (dsir), a sketch pipeline (minhash calibration), and
    the two driver-math queries whose exactness contract *claims*
    order-independence (PCA, and the per-doc classifier)."""
    from sales_azure_data_engineer_project_spark.queries_extensions import (
        dedup_minhash_estimate_calibration,
        embedding_pca_power_iteration,
        text_dsir_importance,
        text_quality_classifier_hashed,
    )

    sf = "/root/testdata/sf0.001"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    results = {}
    try:
        for n in ("3", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            spark.catalog.clearCache()
            results[n] = {
                fn.__name__: sorted(map(tuple, fn(spark, sf).collect()))
                for fn in (
                    text_dsir_importance,
                    dedup_minhash_estimate_calibration,
                    embedding_pca_power_iteration,
                    text_quality_classifier_hashed,
                )
            }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    for name in results["3"]:
        assert results["3"][name] == results["32"][name], name
