"""Property-based algebraic invariants (SURVEY.md §5.3-3, hypothesis).

Frames are generated per-example but executed through the same Spark
session; sizes stay tiny so each example is a sub-second local job.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from .conftest import SF_SMALL

SLOW = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

row = st.tuples(
    st.integers(min_value=0, max_value=5),  # key
    st.integers(min_value=-100, max_value=100),  # value
)
frames = st.lists(row, min_size=0, max_size=30)


def _df(spark, rows):
    return spark.createDataFrame(rows or [(0, 0)], "k int, v int").limit(
        len(rows)
    )


@SLOW
@given(rows=frames)
def test_group_sums_partition_total(spark, rows):
    df = _df(spark, rows)
    total = df.agg(F.sum("v")).collect()[0][0]
    by_group = df.groupBy("k").agg(F.sum("v").alias("s")).agg(F.sum("s")).collect()[0][0]
    assert total == by_group


@SLOW
@given(rows=frames, rows2=frames)
def test_left_join_never_loses_left_rows(spark, rows, rows2):
    left, right = _df(spark, rows), _df(spark, rows2)
    right_keys = right.select("k").distinct()
    joined = left.join(right_keys, "k", "left")
    assert joined.count() == left.count()


@SLOW
@given(rows=frames, rows2=frames)
def test_semi_anti_partition_left(spark, rows, rows2):
    left, right = _df(spark, rows), _df(spark, rows2)
    semi = left.join(right, "k", "left_semi").count()
    anti = left.join(right, "k", "left_anti").count()
    assert semi + anti == left.count()


@SLOW
@given(rows=frames, rows2=frames)
def test_union_all_is_additive(spark, rows, rows2):
    a, b = _df(spark, rows), _df(spark, rows2)
    assert a.unionByName(b).count() == a.count() + b.count()


@SLOW
@given(rows=frames, rows2=frames)
def test_setop_cardinality_identity(spark, rows, rows2):
    """|A ∪ B| = |A| + |B| − |A ∩ B| on distinct projections."""
    a, b = _df(spark, rows).distinct(), _df(spark, rows2).distinct()
    union = a.unionByName(b).distinct().count()
    inter = a.intersect(b).count()
    assert union == a.count() + b.count() - inter


@SLOW
@given(rows=frames)
def test_window_preserves_row_count(spark, rows):
    from pyspark.sql import Window

    df = _df(spark, rows)
    w = Window.partitionBy("k").orderBy("v")
    assert df.select(F.row_number().over(w)).count() == df.count()


@SLOW
@given(rows=frames)
def test_distinct_idempotent(spark, rows):
    df = _df(spark, rows).distinct()
    assert df.count() == df.distinct().count()


@SLOW
@given(rows=frames)
def test_exceptall_roundtrip(spark, rows):
    """(A ∪ A) \\ A = A as bags."""
    a = _df(spark, rows)
    doubled = a.unionByName(a)
    back = doubled.exceptAll(a)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, a.collect()))


# --------------------------------------------------- etl/scale-op invariants

def test_upsert_output_has_unique_keys_and_covers_base(spark):
    from splio_etl_aggregations_spark.registry import get
    from splio_etl_aggregations_spark.sources.loader import load

    out = get("etl_upsert_merge").run(spark, SF_SMALL)
    n_keys = out.select("o_orderkey").distinct().count()
    assert out.count() == n_keys  # one winner per key
    base_keys = load(spark, SF_SMALL)["orders"].select("o_orderkey").distinct().count()
    assert n_keys == base_keys  # merge never loses a key


def test_snapshot_diff_classes_partition_the_key_space(spark):
    from pyspark.sql import functions as F

    from splio_etl_aggregations_spark.registry import get
    from splio_etl_aggregations_spark.sources.loader import load

    out = get("etl_snapshot_diff").run(spark, SF_SMALL)
    assert out.count() == out.select("o_orderkey").distinct().count()
    classes = {
        r["change_type"] for r in out.select("change_type").distinct().collect()
    }
    assert classes <= {"insert", "delete", "update", "unchanged"}
    # every key of either snapshot appears exactly once
    orders = load(spark, SF_SMALL)["orders"]
    n_all = (
        orders.filter(
            (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
            | (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        )
        .select("o_orderkey")
        .distinct()
        .count()
    )
    assert out.count() == n_all


def test_salted_agg_equals_plain_agg(spark):
    from pyspark.sql import functions as F

    from splio_etl_aggregations_spark.registry import get
    from splio_etl_aggregations_spark.sources.loader import load

    got = {
        r["event_type"]: (r["n_events"], r["sum_value"])
        for r in get("agg_salted_skew").run(spark, SF_SMALL).collect()
    }
    plain = {
        r["event_type"]: (r["n"], r["s"])
        for r in load(spark, SF_SMALL)["events"]
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("s"),
        )
        .collect()
    }
    assert got == plain


def test_connected_components_endpoints_share_cluster(spark):
    """Every near-dup pair's two docs must land in the same cluster, and
    each cluster's id must equal its minimum member doc_id."""
    from splio_etl_aggregations_spark.registry import get

    labels = get("dedup_connected_components").run(spark, SF_SMALL)
    pairs = get("dedup_near_jaccard").run(spark, SF_SMALL)
    lo = labels.select(
        F.col("doc_id").alias("id_lo"), F.col("cluster_id").alias("c_lo")
    )
    hi = labels.select(
        F.col("doc_id").alias("id_hi"), F.col("cluster_id").alias("c_hi")
    )
    joined = pairs.join(lo, "id_lo").join(hi, "id_hi")
    assert joined.filter(F.col("c_lo") != F.col("c_hi")).count() == 0
    bad = (
        labels.groupBy("cluster_id")
        .agg(F.min("doc_id").alias("m"))
        .filter(F.col("cluster_id") != F.col("m"))
        .count()
    )
    assert bad == 0


def test_resample_grid_is_dense_per_user(spark):
    """The resampled output must be a gap-free hourly grid per user:
    row count per user == hours between that user's min and max + 1."""
    from splio_etl_aggregations_spark.registry import get

    out = get("ts_resample_ffill").run(spark, SF_SMALL)
    per_user = (
        out.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                (
                    F.unix_timestamp(F.max("hour"))
                    - F.unix_timestamp(F.min("hour"))
                )
                / 3600
                + 1
            ).cast("long").alias("expected"),
        )
        .filter(F.col("n") != F.col("expected"))
    )
    assert per_user.count() == 0
    assert out.filter(F.col("value_ffill").isNull()).count() == 0


token = st.text(alphabet="abcx", min_size=1, max_size=3)


@SLOW
@given(docs=st.lists(st.lists(token, min_size=0, max_size=12), min_size=1, max_size=8))
def test_zip_grams_match_python_reference(spark, docs):
    """The codegen zip-gram stream (``_gram_rows``: arrays_zip of
    shifted slices, docs shorter than n dropped) emits exactly the
    n-grams a plain Python sliding window produces, for n=2 and n=3, on
    arbitrary token lists."""
    from splio_etl_aggregations_spark.operators.corpus import _gram_rows

    rows = [(i, " ".join(d)) for i, d in enumerate(d for d in docs)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    for n in (2, 3):
        got = sorted(
            (r["doc_id"], r["gram"]) for r in _gram_rows(df, n).collect()
        )
        # split(text, ' ') parses '' as [''], matching the engine's
        # tokenizer convention — mirror it here
        want = sorted(
            (i, " ".join(tok[j : j + n]))
            for i, d in enumerate(docs)
            for tok in [(" ".join(d)).split(" ")]
            if len(tok) >= n
            for j in range(len(tok) - n + 1)
        )
        assert got == want


@SLOW
@given(rows=st.lists(st.tuples(st.integers(0, 1000), st.integers(-50, 50),
                               st.integers(-50, 50)),
                     min_size=1, max_size=40, unique_by=lambda r: r[0]))
def test_two_phase_cumsum_matches_window(spark, rows):
    """Every form the distributed prefix scan computes — inclusive sum,
    exclusive sum (by subtraction), exclusive max (null first row) —
    equals the single-partition window form for every ordering key set
    (incl. sparse/duplicate values)."""
    from pyspark.sql import Window

    from splio_etl_aggregations_spark.operators.windows import (
        two_phase_scan,
    )

    df = spark.createDataFrame(rows, "k int, a int, b int")
    ex_max = {
        r["k"]: (r["cum_a"], r["cum_b"])
        for r in two_phase_scan(
            df, [F.asc("k")], ["a", "b"], agg="max", inclusive=False
        ).collect()
    }
    got = {
        r["k"]: (r["cum_a"], r["cum_b"], r["cum_a"] - r["a"],
                 r["cum_b"] - r["b"]) + ex_max[r["k"]]
        for r in two_phase_scan(df, [F.asc("k")], ["a", "b"]).collect()
    }
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    w_ex = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
    cols = [F.sum(c).over(w) for c in "ab"]
    cols += [F.coalesce(F.sum(c).over(w_ex), F.lit(0)) for c in "ab"]
    cols += [F.max(c).over(w_ex) for c in "ab"]
    want = {
        r[0]: tuple(r[1:])
        for r in df.select("k", *[c.alias(f"c{i}") for i, c in enumerate(cols)])
        .collect()
    }
    assert got == want


_CONTAINMENT_DOCS = st.lists(
    st.lists(st.sampled_from("abcdefg"), min_size=1, max_size=8).map(
        lambda toks: " ".join(toks)
    ),
    min_size=2,
    max_size=10,
)


def _check_containment_bruteforce(spark, docs):
    """dedup_containment's report must equal the all-pairs brute force."""
    from splio_etl_aggregations_spark.operators.dedup import (
        dedup_containment,
    )

    df = spark.createDataFrame(
        [(i, d, "xx", "src", len(d)) for i, d in enumerate(docs)],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    got = {
        r["contained_id"]: (r["n_containers"], r["keeper_id"])
        for r in dedup_containment(spark, {"documents": df}).collect()
    }
    sets = {i: set(d.split(" ")) for i, d in enumerate(docs)}
    want = {}
    for a, sa in sets.items():
        containers = [
            b
            for b, sb in sets.items()
            if a != b
            and (len(sa) < len(sb) or (len(sa) == len(sb) and a < b))
            and len(sa & sb) / len(sa) >= 0.9
        ]
        if containers:
            want[a] = (len(containers), min(containers))
    assert got == want


@SLOW
@given(docs=_CONTAINMENT_DOCS)
def test_containment_matches_bruteforce(spark, docs):
    """dedup_containment's survivorship report equals the brute-force
    all-pairs computation on arbitrary tiny corpora (bitmask verify)."""
    _check_containment_bruteforce(spark, docs)


@SLOW
@given(docs=_CONTAINMENT_DOCS)
def test_containment_matches_bruteforce_array_verify(spark, monkeypatch, docs):
    """Same brute-force equality on the array_intersect branch of the
    exact verify, forced by a 0 vocabulary bound."""
    from splio_etl_aggregations_spark.operators import dedup

    monkeypatch.setattr(dedup, "_MASK_VOCAB_MAX", 0)
    _check_containment_bruteforce(spark, docs)


# ------------------------------------------------- lake model-based test
#
# Randomized (seeded, bounded) sequences of table commits applied BOTH
# to the transaction-logged lake and to a plain in-memory dict model.
# After every commit the latest snapshot must equal the model, and at
# the end EVERY historical version must equal the model's recorded
# history — the strongest portable statement of log-replay correctness
# (append/update/delete CoW, compaction no-op-ness, rollback).

def _lake_apply_cow(spark, lake, root, version, delete_keys, update_map):
    """One copy-on-write commit: rewrite only files containing touched
    keys; apply deletes and updates inside them."""
    touched = sorted(set(delete_keys) | set(update_map))
    live = lake._snapshot(root, version - 1)
    if not touched:
        lake._commit(root, version, [], [])
        return
    lo, hi = min(touched), max(touched)
    rewrite = lake._prune_files(live, "k", lo, hi)
    if not rewrite:
        lake._commit(root, version, [], [])
        return
    paths = [f"{root}/{a['path']}" for a in rewrite]
    df = spark.read.parquet(*paths)
    if delete_keys:
        df = df.filter(~F.col("k").isin(list(delete_keys)))
    for k, delta in update_map.items():
        df = df.withColumn(
            "v", F.when(F.col("k") == k, F.col("v") + delta).otherwise(F.col("v"))
        )
    adds = lake._write_files(df.repartitionByRange(2, F.col("k")), root,
                             version, ["k"])
    lake._commit(root, version, adds, [a["path"] for a in rewrite])


def _lake_read_model(spark, lake, root, version=None):
    rows = lake._read_version(spark, root, version).collect()
    return {r["k"]: r["v"] for r in rows}


def test_lake_model_based_commit_sequences(spark):
    import random
    import tempfile
    from splio_etl_aggregations_spark.operators import lake

    for seed in (7, 23):
        rng = random.Random(seed)
        root = tempfile.mkdtemp(prefix=f"lake_model_{seed}_")
        model = {k: rng.randint(-50, 50) for k in range(0, 120, 3)}
        df0 = spark.createDataFrame(sorted(model.items()), "k int, v int")
        adds = lake._write_files(df0.repartitionByRange(4, F.col("k")),
                                 root, 0, ["k"])
        lake._commit(root, 0, adds, [])
        history = [dict(model)]

        version = 0
        for _ in range(5):
            version += 1
            op = rng.choice(["mutate", "mutate", "append", "compact",
                             "rollback"])
            if op == "mutate":
                keys = list(model)
                dels = set(rng.sample(keys, min(3, len(keys))))
                ups = {
                    k: rng.randint(1, 9)
                    for k in rng.sample(keys, min(4, len(keys)))
                    if k not in dels
                }
                _lake_apply_cow(spark, lake, root, version, dels, ups)
                for k in dels:
                    model.pop(k, None)
                for k, d in ups.items():
                    model[k] += d
            elif op == "append":
                new = {
                    k: rng.randint(-50, 50)
                    for k in range(max(model, default=0) + 1,
                                   max(model, default=0) + 8, 2)
                }
                dfn = spark.createDataFrame(sorted(new.items()),
                                            "k int, v int")
                adds = lake._write_files(dfn, root, version, ["k"])
                lake._commit(root, version, adds, [])
                model.update(new)
            elif op == "compact":
                live = lake._snapshot(root, version - 1)
                packed = lake._read_version(spark, root, version - 1)
                adds = lake._write_files(
                    packed.repartitionByRange(2, F.col("k")), root, version,
                    ["k"])
                lake._commit(root, version, adds,
                             [a["path"] for a in live])
                # data unchanged
            else:  # rollback to a random earlier version
                target = rng.randrange(0, version)
                old = lake._snapshot(root, target)
                cur = lake._snapshot(root, version - 1)
                lake._commit(root, version, old,
                             [a["path"] for a in cur])
                model = dict(history[target])
            history.append(dict(model))
            assert _lake_read_model(spark, lake, root) == model, (
                f"seed={seed} v={version} op={op}"
            )

        # time travel: every historical version must replay exactly
        for v, snap in enumerate(history):
            assert _lake_read_model(spark, lake, root, v) == snap, (
                f"seed={seed} time-travel v={v}"
            )


@settings(max_examples=60, deadline=None)
@given(data=st.data())
def test_txn_validation_matches_serializability_oracle(tmp_path_factory, data):
    """Pure-log property check of Txn.commit() validation (no Spark):
    a transaction begun at snapshot S and committed after interleaved
    commits must raise CommitConflict IFF some intervening commit
    (a) removed a file the txn read or removes, or (b) added a file
    whose key range overlaps a txn read range. When it commits, the
    resulting log must equal applying the txn's adds/removes on top of
    the interleaved history (first-committer-wins serial order)."""
    import json
    import os

    from splio_etl_aggregations_spark.operators import lake

    root = str(tmp_path_factory.mktemp("txnprop"))

    def fake_add(tag, lo, hi):
        return {"path": f"data/{tag}.parquet", "rows": hi - lo + 1,
                "stats": {lake._KEY: [lo, hi]}}

    # base: four disjoint files covering [0,400)
    base = [fake_add(f"base{i}", i * 100, i * 100 + 99) for i in range(4)]
    lake._commit(root, 0, base, [])

    # the txn under test: reads 0-2 of the base files + 0-2 key ranges
    txn = lake.Txn(root)
    n_read = data.draw(st.integers(0, 2), label="n_read_files")
    txn.read_files = {a["path"] for a in base[:n_read]}
    n_rng = data.draw(st.integers(0, 2), label="n_read_ranges")
    for i in range(n_rng):
        lo = data.draw(st.integers(0, 500), label=f"lo{i}")
        txn.read_ranges.append((lo, lo + data.draw(st.integers(0, 120))))
    txn.adds = [fake_add("mine", 1000, 1099)]
    if data.draw(st.booleans(), label="txn_removes"):
        txn.removes = [base[3]["path"]]

    # interleaved commits by other writers
    n_mid = data.draw(st.integers(0, 3), label="n_mid")
    for v in range(1, n_mid + 1):
        removes = [
            a["path"] for a in base
            if data.draw(st.booleans(), label=f"v{v}rm{a['path']}")
        ]
        adds = []
        if data.draw(st.booleans(), label=f"v{v}adds"):
            lo = data.draw(st.integers(0, 600), label=f"v{v}lo")
            adds = [fake_add(f"v{v}", lo, lo + 50)]
        lake._commit(root, v, adds, removes)

    def overlaps(st_, rng):
        return not (st_[1] < rng[0] or st_[0] > rng[1])

    expect_conflict = False
    for v in range(1, n_mid + 1):
        with open(os.path.join(lake._log_dir(root), f"{v:08d}.json")) as fh:
            entry = json.load(fh)
        if set(entry["removes"]) & (set(txn.removes) | txn.read_files):
            expect_conflict = True
        for a in entry["adds"]:
            if any(overlaps(a["stats"][lake._KEY], r)
                   for r in txn.read_ranges):
                expect_conflict = True

    before = {a["path"]: a for a in lake._snapshot(root)}
    try:
        v = txn.commit()
        conflicted = False
    except lake.CommitConflict:
        conflicted = True
    assert conflicted == expect_conflict
    if not conflicted:
        assert v == n_mid + 1
        expected = dict(before)
        for rel in txn.removes:
            expected.pop(rel, None)
        for a in txn.adds:
            expected[a["path"]] = a
        assert {a["path"]: a for a in lake._snapshot(root)} == expected


def test_position_dv_equals_predicate_delete_random_predicates(spark):
    """Position-based deletion vectors must reproduce ANY predicate
    delete: for seeded random (modulus, residue) predicates, building
    the DV from `_metadata` positions and anti-joining it must equal
    filtering the base table directly — row-for-row, not just counts."""
    import random
    import tempfile
    from splio_etl_aggregations_spark.operators import lake
    from splio_etl_aggregations_spark.sources.loader import load

    t = load(spark, SF_SMALL)
    for seed in (3, 11):
        rng = random.Random(seed)
        mod = rng.choice([5, 7, 11, 13])
        res = rng.randrange(mod)
        root = tempfile.mkdtemp(prefix=f"lake_dvprop_{seed}_")
        lake._build_v0(spark, t, root, n_files=4)
        base0 = lake._read_version(spark, root, 0)
        dv = base0.filter(F.col(lake._KEY) % mod == res).select(
            F.col("_metadata.file_path").alias("dv_path"),
            F.col("_metadata.row_index").alias("dv_pos"),
        )
        import os as _os
        dv_adds = lake._write_files(dv, root, f"dv-{seed}", ["dv_pos"])
        survivors = (
            base0.withColumns(
                {
                    "__file": F.col("_metadata.file_path"),
                    "__pos": F.col("_metadata.row_index"),
                }
            )
            .join(
                spark.read.parquet(
                    *[_os.path.join(root, a["path"]) for a in dv_adds]
                ),
                (F.col("__file") == F.col("dv_path"))
                & (F.col("__pos") == F.col("dv_pos")),
                "left_anti",
            )
            .select(lake._KEY, "o_cents")
        )
        expected = base0.filter(F.col(lake._KEY) % mod != res).select(
            lake._KEY, "o_cents"
        )
        assert survivors.exceptAll(expected).isEmpty()
        assert expected.exceptAll(survivors).isEmpty()


def test_spec_aware_pruning_never_loses_rows_random_ranges(spark):
    """Partition-evolution pruning is an OPTIMIZATION, never a filter:
    for seeded random key ranges, reading only the spec-aware-pruned
    files and applying the predicate must equal applying the predicate
    to every file — across BOTH partition eras."""
    import os as _os
    import random
    import tempfile
    from splio_etl_aggregations_spark.operators import lake
    from splio_etl_aggregations_spark.sources.loader import load

    t = load(spark, SF_SMALL)
    base = lake._base_frame(t).drop("src")
    mx = base.agg(F.max(lake._KEY)).collect()[0][0]
    root = tempfile.mkdtemp(prefix="lake_specprop_")
    adds_a = lake._write_partitioned(
        base.repartition(3, F.col(lake._KEY)),
        root, "spec-a", "o_orderpriority", [lake._KEY],
    )
    lake._commit(root, 0, adds_a, [])
    w = max(mx // 6, 1)
    evolved = base.select(
        (F.col(lake._KEY) + F.lit(mx)).alias(lake._KEY),
        "o_orderpriority", "o_cents",
    ).withColumn("k_bucket", (F.col(lake._KEY) / F.lit(w)).cast("bigint"))
    adds_b = lake._write_partitioned(
        evolved, root, "spec-b", "k_bucket", [lake._KEY, "o_orderpriority"]
    )
    lake._commit(root, 1, adds_b, [])
    live = lake._snapshot(root)

    def read_files(adds):
        frames = []
        for label in ("spec-a", "spec-b"):
            paths = [
                _os.path.join(root, a["path"])
                for a in adds
                if a["path"].startswith(_os.path.join("data", label))
            ]
            if paths:
                frames.append(
                    spark.read.option(
                        "basePath", _os.path.join(root, "data", label)
                    )
                    .parquet(*paths)
                    .select(lake._KEY, "o_cents")
                )
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    rng = random.Random(17)
    for _ in range(4):
        lo = rng.randrange(0, 2 * mx)
        hi = min(lo + rng.randrange(1, mx), 2 * mx)
        kept = lake._prune_spec_aware(live, "k_bucket", lo // w, hi // w)
        kept = lake._prune_spec_aware(kept, lake._KEY, lo, hi)
        pruned = read_files(kept).filter(F.col(lake._KEY).between(lo, hi))
        full = read_files(live).filter(F.col(lake._KEY).between(lo, hi))
        assert pruned.exceptAll(full).isEmpty()
        assert full.exceptAll(pruned).isEmpty()
