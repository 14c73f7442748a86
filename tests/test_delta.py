"""Delta Lake interop (io/delta.py) — the third lakehouse leg.

No delta-spark / delta-rs / DuckDB-delta exists in the container, so
conformance to the PUBLIC protocol (delta.io PROTOCOL.md) is pinned
STRUCTURALLY here: every required action field, URL-encoded paths,
last-writer-wins reconciliation, time travel, checkpoint replay, and
loud refusal of reader features we don't implement.  The round-trip
gate (delta_roundtrip) hash-compares export → independent replay
against the DuckDB oracle at three SFs.
"""
import json
import os

import pytest
from pyspark.sql import functions as F

from spatial_spark.io.delta import (delta_source, export_delta,
                                    layer_to_delta, read_delta_log,
                                    write_delta_checkpoint)


def test_delta_commit_structure(spark, tmp_path):
    """Version-0 commit carries protocol + metaData + adds with every
    spec-required field; the log file is newline-delimited JSON named
    %020d.json."""
    tab = str(tmp_path / "t0")
    df = spark.createDataFrame(
        [(i, f"n{i}", float(i) * 1.5) for i in range(40)],
        "id long, name string, v double").coalesce(2)
    assert export_delta(df, tab, mode="overwrite", name="t0") == 0
    log = os.path.join(tab, "_delta_log")
    assert sorted(os.listdir(log)) == ["00000000000000000000.json"]
    actions = [json.loads(line) for line in
               open(os.path.join(log, "00000000000000000000.json"))]
    kinds = [next(iter(a)) for a in actions]
    assert kinds[:3] == ["commitInfo", "protocol", "metaData"]
    proto = actions[1]["protocol"]
    assert proto == {"minReaderVersion": 1, "minWriterVersion": 2}
    md = actions[2]["metaData"]
    for req in ("id", "format", "schemaString", "partitionColumns",
                "configuration"):
        assert req in md, req
    assert md["format"] == {"provider": "parquet", "options": {}}
    assert md["name"] == "t0"
    # schemaString is the Spark schema JSON — fromJson round-trips it
    from pyspark.sql import types as T
    st = T.StructType.fromJson(json.loads(md["schemaString"]))
    assert [f.name for f in st.fields] == ["id", "name", "v"]
    adds = [a["add"] for a in actions if "add" in a]
    assert len(adds) == 2
    for ad in adds:
        for req in ("path", "partitionValues", "size",
                    "modificationTime", "dataChange"):
            assert req in ad, req
        assert ad["dataChange"] is True
        assert not os.path.isabs(ad["path"])
        st = json.loads(ad["stats"])
        assert st["numRecords"] > 0
        assert "id" in st["minValues"] and "id" in st["maxValues"]
        assert st["nullCount"]["id"] == 0
    assert sum(json.loads(a["stats"])["numRecords"] for a in adds) == 40


def test_delta_append_overwrite_time_travel(spark, tmp_path):
    """Append adds files; overwrite REMOVES logically (files stay on
    disk); every prior version stays readable (time travel); appends
    with a different schema refuse."""
    tab = str(tmp_path / "tt")
    mk = lambda lo, hi: spark.createDataFrame(
        [(i, float(i)) for i in range(lo, hi)], "id long, v double")
    export_delta(mk(0, 50), tab)
    export_delta(mk(50, 80), tab, mode="append")
    assert delta_source(spark, tab).count() == 80
    assert delta_source(spark, tab, version=0).count() == 50
    export_delta(mk(0, 5), tab, mode="overwrite")
    assert delta_source(spark, tab).count() == 5
    assert delta_source(spark, tab, version=1).count() == 80
    snap = read_delta_log(tab)
    assert snap["version"] == 2 and len(snap["files"]) >= 1
    # remove actions present in the overwrite commit
    acts = [json.loads(line) for line in
            open(os.path.join(tab, "_delta_log",
                              "00000000000000000002.json"))]
    assert any("remove" in a for a in acts)
    rm = next(a["remove"] for a in acts if "remove" in a)
    assert "deletionTimestamp" in rm and rm["dataChange"] is True
    with pytest.raises(ValueError, match="schema"):
        export_delta(spark.createDataFrame([(1,)], "only int"),
                     tab, mode="append")
    with pytest.raises(KeyError):
        read_delta_log(tab, version=99)


def test_delta_stats_and_partition_pruning(spark, tmp_path):
    """File pruning from add-action stats and partitionValues happens
    on driver-held metadata before any scan; answers never change
    (pruning shrinks the plan, the caller's predicate decides)."""
    tab = str(tmp_path / "pp")
    df = spark.createDataFrame(
        [(i, i % 4, float(i)) for i in range(400)],
        "id long, g int, v double").repartition(8, "id")
    export_delta(df, tab, partition_by=["g"])
    snap = read_delta_log(tab)
    assert all(set(fe["partitionValues"]) == {"g"}
               for fe in snap["files"])
    # partition pruning: only g=2 files planned
    only2 = delta_source(spark, tab, partitions={"g": 2})
    assert only2.count() == 100
    assert set(r["g"] for r in only2.select("g").distinct()
               .collect()) == {2}
    # hive layout recovered: partition column readable and typed
    assert dict(only2.dtypes)["g"] == "int"
    # stats pruning: id >= 390 proves most files empty
    pr = delta_source(spark, tab, props={"id": (390, None)})
    got = sorted(r["id"] for r in pr.filter("id >= 390").collect())
    assert got == list(range(390, 400))
    # prune to nothing: typed empty frame
    empty = delta_source(spark, tab, props={"id": (10_000, None)})
    assert empty.count() == 0
    assert [f for f, _ in empty.dtypes] == ["id", "g", "v"]


def test_delta_checkpoint_roundtrip(spark, tmp_path):
    """write_delta_checkpoint publishes %020d.checkpoint.parquet +
    _last_checkpoint; the reader replays checkpoint + JSON tail only,
    and a time travel BEFORE the checkpoint still replays pure JSON."""
    tab = str(tmp_path / "cp")
    mk = lambda lo, hi: spark.createDataFrame(
        [(i,) for i in range(lo, hi)], "id long")
    export_delta(mk(0, 30), tab)
    export_delta(mk(30, 60), tab, mode="append")
    assert write_delta_checkpoint(tab) == 1
    log = os.path.join(tab, "_delta_log")
    assert os.path.exists(os.path.join(
        log, "00000000000000000001.checkpoint.parquet"))
    lc = json.load(open(os.path.join(log, "_last_checkpoint")))
    assert lc["version"] == 1 and lc["size"] >= 1
    export_delta(mk(60, 70), tab, mode="append")
    assert delta_source(spark, tab).count() == 70
    assert delta_source(spark, tab, version=0).count() == 30
    # checkpoint alone reproduces the snapshot: hide the JSON commits
    # it covers and re-read
    for v in (0, 1):
        os.rename(os.path.join(log, f"{v:020d}.json"),
                  os.path.join(log, f"{v:020d}.json.hidden"))
    try:
        assert delta_source(spark, tab).count() == 70
    finally:
        for v in (0, 1):
            os.rename(os.path.join(log, f"{v:020d}.json.hidden"),
                      os.path.join(log, f"{v:020d}.json"))


def test_delta_reader_feature_refusal(spark, tmp_path):
    """A table demanding reader protocol > 1 (column mapping /
    deletion vectors) refuses LOUDLY, naming the gap — never a wrong
    silent read."""
    tab = str(tmp_path / "dvs")
    export_delta(spark.createDataFrame([(1,)], "id long"), tab)
    p = os.path.join(tab, "_delta_log", "00000000000000000001.json")
    with open(p, "w") as f:
        f.write(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors"]}}) + "\n")
    with pytest.raises(NotImplementedError, match="deletionVectors"):
        read_delta_log(tab)


def test_delta_commit_put_if_absent(spark, tmp_path):
    """Commit files publish create-no-overwrite: a second writer
    landing on the same version loses with an error instead of
    clobbering (the spec's atomicity primitive)."""
    tab = str(tmp_path / "race")
    export_delta(spark.createDataFrame([(1,)], "id long"), tab)
    from spatial_spark.io.delta import _write_commit
    with pytest.raises(FileExistsError):
        _write_commit(tab, 0, [{"commitInfo": {}}])


def test_layer_to_delta_metadata_only(ctx, spark, tmp_path):
    """layer_to_delta translates the manifest snapshot into a Delta
    log with ABSOLUTE paths and manifest-derived per-file stats —
    zero data copied; the independent reader sees exactly the layer's
    rows and prunes on the translated stats."""
    layer = ctx.create_point_layer("l2d", x="lon", y="lat")
    for base in (0, 1000):
        layer.add(spark.createDataFrame(
            [(base + i, float(base // 100 + i % 7), 45.0, base + i)
             for i in range(60)],
            "id long, lon double, lat double, score long"))
    out = str(tmp_path / "l2d_delta")
    assert layer_to_delta(layer, out, name="l2d_snap") == 0
    snap = read_delta_log(out)
    assert snap["metadata"]["name"] == "l2d_snap"
    n_layer_files = len(layer._manifest.files())
    assert len(snap["files"]) == n_layer_files
    for fe in snap["files"]:
        assert os.path.isabs(fe["path"])       # metadata-only: clone form
        assert os.path.exists(fe["path"])
    # zero data files under the export dir
    assert not [f for f in os.listdir(out) if f.endswith(".parquet")]
    back = delta_source(spark, out)
    assert back.count() == 120
    assert (sorted(r["id"] for r in back.collect())
            == sorted(list(range(60)) + list(range(1000, 1060))))
    # manifest amin:/amax: stats became minValues/maxValues and prune
    pruned = delta_source(spark, out, props={"score": (1000, None)})
    assert sorted(r["id"] for r in
                  pruned.filter("score >= 1000").collect()) == \
        list(range(1000, 1060))
    full_bytes = sum(fe["size"] for fe in snap["files"])
    pr_files = read_delta_log(out)["files"]
    assert 0 < len(pr_files) and full_bytes > 0

def test_layer_delta_layer_roundtrip(ctx, spark, tmp_path):
    """layer -> layer_to_delta -> layer_from_delta reconstitutes the
    layer: same rows, same geometries, attributes intact; the derived
    core columns are recomputed by the import's own write path."""
    from spatial_spark.io.delta import layer_from_delta

    src = ctx.create_layer("rt_src", encoder="wkb")
    rows = spark.sql("""
        SELECT id, st_geomfromtext(concat(
            'POINT (', CAST(id % 50 AS STRING), ' ',
            CAST(id % 20 AS STRING), ')')) AS geom,
            concat('t', CAST(id AS STRING)) AS tag
        FROM range(80)""")
    src.add(rows)
    out = str(tmp_path / "rt_delta")
    layer_to_delta(src, out)
    back = layer_from_delta(ctx, out, "rt_back")
    a = src.df().select("tag", "xmin", "ymin").orderBy("tag").collect()
    b = back.df().select("tag", "xmin", "ymin").orderBy("tag").collect()
    assert a == b and len(a) == 80
    # non-layer-shaped tables refuse
    import pytest as _pytest
    plain = str(tmp_path / "plain")
    export_delta(spark.createDataFrame([(1,)], "id long"), plain)
    with _pytest.raises(ValueError, match="geom"):
        layer_from_delta(ctx, plain, "nope")


def test_delta_txn_exactly_once_and_stream_sink(spark, tmp_path):
    """The spec's txn action: (a) export_delta(txn=(app, v)) skips a
    replayed version (idempotent no-op riding INSIDE the commit, no
    side-channel marker); (b) delta_stream_sink replays an identical
    availableNow stream — fresh checkpoint, same app_id — and appends
    NOTHING the second time; (c) txn state survives a checkpoint."""
    from spatial_spark.io.delta import write_delta_checkpoint
    from spatial_spark.streaming.delta_sink import delta_stream_sink

    tab = str(tmp_path / "txn")
    df1 = spark.createDataFrame([(1,), (2,)], "id long")
    v = export_delta(df1, tab, mode="append", txn=("app", 0))
    assert v == 0
    # replayed txn version: no-op, same table version returned
    assert export_delta(df1, tab, mode="append", txn=("app", 0)) == 0
    assert delta_source(spark, tab).count() == 2
    # a NEWER version commits; an OLDER one is covered too
    export_delta(df1, tab, mode="append", txn=("app", 1))
    assert delta_source(spark, tab).count() == 4
    assert read_delta_log(tab)["txns"] == {"app": 1}
    assert export_delta(df1, tab, mode="append", txn=("app", 0)) == 1
    assert delta_source(spark, tab).count() == 4
    # (c) txn state rides the checkpoint
    write_delta_checkpoint(tab)
    log = os.path.join(tab, "_delta_log")
    for f in list(os.listdir(log)):
        if f.endswith(".json") and f[:-5].isdigit():
            os.rename(os.path.join(log, f),
                      os.path.join(log, f + ".hidden"))
    try:
        assert read_delta_log(tab)["txns"] == {"app": 1}
    finally:
        for f in list(os.listdir(log)):
            if f.endswith(".hidden"):
                os.rename(os.path.join(log, f),
                          os.path.join(log, f[:-7]))

    # (b) the streaming sink end-to-end: 3-file source, 1 file/trigger
    src = str(tmp_path / "src")
    for b in range(3):
        (spark.createDataFrame([(b * 10 + i,) for i in range(5)],
                               "id long")
         .coalesce(1).write.mode("overwrite")
         .parquet(os.path.join(src, f"b{b}")))
    stab = str(tmp_path / "stab")

    def run(ck):
        stream = (spark.readStream.schema("id long")
                  .option("maxFilesPerTrigger", 1)
                  .parquet(src + "/b*"))
        q = delta_stream_sink(stream, stab, os.path.join(str(tmp_path),
                                                         ck),
                              app_id="s1")
        q.awaitTermination(300)

    run("ck1")
    assert delta_source(spark, stab).count() == 15
    # identical replay, FRESH checkpoint (batch ids restart at 0) —
    # every batch is a covered txn, nothing appends
    run("ck2")
    assert delta_source(spark, stab).count() == 15
    assert read_delta_log(stab)["txns"]["s1"] >= 0


def test_delta_vacuum_and_log_cleanup(spark, tmp_path):
    """Lifecycle: vacuum deletes only files the CURRENT snapshot no
    longer references (time travel to pre-vacuum versions then fails,
    the documented trade); cleanup_delta_log drops JSON commits the
    checkpoint covers and the reader still reproduces the snapshot
    from checkpoint + tail."""
    from spatial_spark.io.delta import (cleanup_delta_log, vacuum_delta,
                                        write_delta_checkpoint)
    tab = str(tmp_path / "vac")
    mk = lambda lo, hi: spark.createDataFrame(
        [(i,) for i in range(lo, hi)], "id long")
    export_delta(mk(0, 40), tab)
    export_delta(mk(40, 60), tab, mode="append")
    export_delta(mk(0, 10), tab, mode="overwrite")   # v2 removes v0+v1
    assert delta_source(spark, tab, version=1).count() == 60
    deleted = vacuum_delta(tab)
    assert deleted, "overwritten files must be reclaimed"
    assert delta_source(spark, tab).count() == 10    # current unharmed
    with pytest.raises(Exception):
        delta_source(spark, tab, version=1).count()  # pre-vacuum TT gone
    # log cleanup requires a checkpoint, then drops covered commits
    with pytest.raises(ValueError, match="checkpoint"):
        cleanup_delta_log(tab)
    write_delta_checkpoint(tab)
    export_delta(mk(10, 15), tab, mode="append")     # a post-cp tail
    gone = cleanup_delta_log(tab)
    assert gone == [f"{v:020d}.json" for v in (0, 1, 2)]
    assert delta_source(spark, tab).count() == 15
    assert read_delta_log(tab)["version"] == 3
    with pytest.raises(KeyError):
        read_delta_log(tab, version=0)


def test_delta_vacuum_staging_cleanup(spark, tmp_path):
    """A crashed writer's _staging-* dir survives a default vacuum
    (an in-flight writer must not lose files) and is reclaimed by
    vacuum_delta(clean_staging=True)."""
    from spatial_spark.io.delta import vacuum_delta
    tab = str(tmp_path / "stg")
    export_delta(spark.createDataFrame([(1,)], "id long"), tab)
    crashed = os.path.join(tab, "_staging-deadbeef")
    os.makedirs(crashed)
    with open(os.path.join(crashed, "part-0.parquet"), "wb") as f:
        f.write(b"x")
    vacuum_delta(tab)
    assert os.path.isdir(crashed)
    vacuum_delta(tab, clean_staging=True)
    assert not os.path.exists(crashed)
    assert delta_source(spark, tab).count() == 1


def test_delta_append_commit_race_rebases(spark, tmp_path):
    """Optimistic concurrency: an append losing the put-if-absent race
    re-reads the snapshot and lands at N+1 (adds are disjoint files);
    an overwrite that lost surfaces the conflict instead of deleting
    against a stale snapshot."""
    from spatial_spark.io.delta import _write_commit
    tab = str(tmp_path / "race2")
    export_delta(spark.createDataFrame([(1,)], "id long"), tab)
    # simulate a concurrent winner at version 1
    _write_commit(tab, 1, [{"commitInfo": {"timestamp": 0}}])
    v = export_delta(spark.createDataFrame([(2,)], "id long"), tab,
                     mode="append")
    assert v == 2
    assert delta_source(spark, tab).count() == 2
    # overwrite race: a competitor lands between the snapshot read and
    # the put-if-absent — the overwrite must refuse, not delete against
    # a stale view
    import spatial_spark.io.delta as dmod
    orig = dmod._write_commit
    state = {"fired": False}

    def racy(path, version, actions, store=None):
        if not state["fired"]:
            state["fired"] = True
            orig(path, version, [{"commitInfo": {"timestamp": 0}}])
        return orig(path, version, actions, store=store)

    dmod._write_commit = racy
    try:
        with pytest.raises(RuntimeError, match="stale"):
            export_delta(spark.createDataFrame([(3,)], "id long"), tab,
                         mode="overwrite")
    finally:
        dmod._write_commit = orig


def test_delta_partition_value_escaping(spark, tmp_path):
    """Hive-layout partition values with spaces / '=' / unicode /
    slashes round-trip through the add-action partitionValues (the
    spec stores the LOGICAL value; the path carries Spark's escaped
    form) and partition pruning matches on the logical value."""
    tab = str(tmp_path / "esc")
    vals = ["a b", "x=y", "über", "sla/sh"]
    df = spark.createDataFrame(
        [(i, vals[i % 4]) for i in range(40)], "id long, g string")
    export_delta(df, tab, partition_by=["g"])
    snap = read_delta_log(tab)
    got = {fe["partitionValues"]["g"] for fe in snap["files"]}
    assert got == set(vals), got
    for v in vals:
        sub = delta_source(spark, tab, partitions={"g": v})
        assert sub.count() == 10, v
        assert {r["g"] for r in sub.select("g").distinct()
                .collect()} == {v}


def test_delta_randomized_lifecycle_model(spark, tmp_path):
    """Randomized model check (the manifest suite's discipline, scaled
    to the Delta leg): a fixed-seed walk of append / overwrite /
    checkpoint / log-cleanup / vacuum keeps the CURRENT snapshot
    exactly equal to a python model at every step, and historical
    versions behave per contract — readable while their files and
    commit JSONs survive, KeyError once cleanup dropped the commit,
    read failure once vacuum reclaimed their files."""
    import random

    from spatial_spark.io.delta import (cleanup_delta_log, vacuum_delta,
                                        write_delta_checkpoint)
    rng = random.Random(20260816)
    tab = str(tmp_path / "model")
    mk = lambda ids: spark.createDataFrame([(i,) for i in ids],
                                           "id long")
    # model state
    history = {}          # version -> (frozenset ids, frozenset groups)
    groups_of = {}        # group id -> still-on-disk bool
    cur_ids, cur_groups = frozenset(), frozenset()
    cp_version = None
    cleaned_to = -1
    version = -1
    step_ids = iter(range(1, 10_000))

    export_delta(mk([0]), tab)
    version = 0
    g0 = next(step_ids)
    groups_of[g0] = True
    cur_ids, cur_groups = frozenset([0]), frozenset([g0])
    history[0] = (cur_ids, cur_groups)

    for step in range(30):
        op = rng.choice(["append", "append", "overwrite",
                         "checkpoint", "cleanup", "vacuum"])
        if op == "append":
            g = next(step_ids)
            new = frozenset(g * 100 + j for j in range(rng.randint(1, 3)))
            export_delta(mk(sorted(new)), tab, mode="append")
            version += 1
            groups_of[g] = True
            cur_ids, cur_groups = cur_ids | new, cur_groups | {g}
            history[version] = (cur_ids, cur_groups)
        elif op == "overwrite":
            g = next(step_ids)
            new = frozenset(g * 100 + j for j in range(rng.randint(1, 3)))
            export_delta(mk(sorted(new)), tab, mode="overwrite")
            version += 1
            groups_of[g] = True
            cur_ids, cur_groups = new, frozenset([g])
            history[version] = (cur_ids, cur_groups)
        elif op == "checkpoint":
            assert write_delta_checkpoint(tab) == version
            cp_version = version
        elif op == "cleanup":
            if cp_version is None:
                with pytest.raises(ValueError):
                    cleanup_delta_log(tab)
            else:
                cleanup_delta_log(tab)
                cleaned_to = cp_version
        else:
            vacuum_delta(tab)
            for g in list(groups_of):
                if g not in cur_groups:
                    groups_of[g] = False
        # invariant: the current snapshot is exactly the model
        got = {r["id"] for r in delta_source(spark, tab).collect()}
        assert got == set(cur_ids), f"step {step} op {op}"
        assert read_delta_log(tab)["version"] == version
        # a random historical version behaves per contract
        v = rng.choice(sorted(history))
        ids_v, groups_v = history[v]
        if v <= cleaned_to and v != (cp_version or -1) and v != version:
            with pytest.raises(KeyError):
                read_delta_log(tab, version=v)
        elif all(groups_of[g] for g in groups_v):
            assert {r["id"] for r in
                    delta_source(spark, tab, version=v).collect()} \
                == set(ids_v), f"step {step} tt v{v}"
        else:
            with pytest.raises(Exception):
                delta_source(spark, tab, version=v).collect()


def test_delta_optimize_compaction_and_zorder(spark, tmp_path):
    """OPTIMIZE: (a) compaction rewrites N small files into few with
    dataChange=false (same rows, time travel intact); (b) Z-ORDER
    clustering turns useless hash-scattered min/max stats into
    selective ones — a range predicate plans a small fraction of the
    files it planned before."""
    from spatial_spark.io.delta import optimize_delta
    tab = str(tmp_path / "opt")
    df = spark.createDataFrame(
        [(i, i % 7, float(i)) for i in range(4000)],
        "id long, g int, v double").repartition(8)
    export_delta(df, tab)
    assert len(read_delta_log(tab)["files"]) == 8
    # hash-scattered: every file spans ~the full id range, so a
    # selective range predicate cannot prune
    before = delta_source(spark, tab, props={"id": (3900, None)})
    assert len(before.inputFiles()) == 8
    v = optimize_delta(spark, tab, zorder_by=["id", "v"],
                       target_files=8)
    assert v == 1
    snap = read_delta_log(tab)
    assert len(snap["files"]) == 8
    cur = delta_source(spark, tab)
    assert cur.count() == 4000
    assert cur.agg({"id": "sum"}).first()[0] == sum(range(4000))
    # clustered: the same predicate now plans ~1 file
    after = delta_source(spark, tab, props={"id": (3900, None)})
    assert len(after.inputFiles()) <= 2
    assert sorted(r["id"] for r in after.filter("id >= 3900")
                  .collect()) == list(range(3900, 4000))
    # the rearrangement is dataChange=false on every add and remove
    acts = [json.loads(line) for line in
            open(os.path.join(tab, "_delta_log",
                              "00000000000000000001.json"))]
    flips = [a["add"]["dataChange"] for a in acts if "add" in a] + \
            [a["remove"]["dataChange"] for a in acts if "remove" in a]
    assert flips and not any(flips)
    # time travel to the pre-optimize snapshot still works (files kept)
    assert delta_source(spark, tab, version=0).count() == 4000
    # plain compaction path
    v2 = optimize_delta(spark, tab, target_files=1)
    assert v2 == 2 and len(read_delta_log(tab)["files"]) == 1
    assert delta_source(spark, tab).count() == 4000
    # partitioned tables compact PER PARTITION (r15): hive dirs
    # survive, each partition's fragments merge, rows intact
    ptab = str(tmp_path / "popt")
    export_delta(df, ptab, partition_by=["g"])
    n0 = len(read_delta_log(ptab)["files"])
    assert n0 > 7                     # 8 tasks x 7 groups fragment
    v3 = optimize_delta(spark, ptab, target_files=7)
    assert v3 == 1
    snapp = read_delta_log(ptab)
    assert len(snapp["files"]) == 7   # one compact file per partition
    got_g = {fe["partitionValues"]["g"] for fe in snapp["files"]}
    assert got_g == {str(g) for g in range(7)}
    cur = delta_source(spark, ptab)
    assert cur.count() == 4000
    assert cur.agg({"id": "sum"}).first()[0] == sum(range(4000))
    # partitions= limits the rewrite: other partitions' files survive
    export_delta(spark.createDataFrame(
        [(9001, 3, 1.0), (9002, 3, 2.0)], "id long, g int, v double"),
        ptab, mode="append", partition_by=["g"])
    files_before = {fe["rel_path"]
                    for fe in read_delta_log(ptab)["files"]}
    optimize_delta(spark, ptab, partitions={"g": 3})
    snap3 = read_delta_log(ptab)
    untouched = {fe["rel_path"] for fe in snap3["files"]
                 if fe["partitionValues"]["g"] != "3"}
    assert untouched <= files_before  # non-matching files untouched
    g3 = [fe for fe in snap3["files"]
          if fe["partitionValues"]["g"] == "3"]
    assert len(g3) == 1               # g=3's two fragments merged
    assert g3[0]["rel_path"] not in files_before
    assert delta_source(spark, ptab).count() == 4002
    assert delta_source(spark, ptab,
                        partitions={"g": 3}).count() == 573


def test_delta_overwrite_drops_escaped_partition_files(spark, tmp_path):
    """ADVICE r14 high: remove.path must carry the same URL-encoding
    as the add that introduced it.  A partitioned table whose values
    hive-escape to literal %XX ('x=y' -> 'g=x%3Dy') is overwritten;
    the old files must leave the snapshot (no silent duplication) and
    the on-disk remove.path must unquote back to the adds key."""
    tab = str(tmp_path / "esc_ow")
    df = spark.createDataFrame(
        [(i, "x=y" if i % 2 else "a b") for i in range(20)],
        "id long, g string")
    export_delta(df, tab, partition_by=["g"])
    v0_files = {fe["rel_path"] for fe in read_delta_log(tab)["files"]}
    assert any("%" in rel for rel in v0_files)   # hive-escaped on disk
    df2 = spark.createDataFrame(
        [(100 + i, "x=y") for i in range(4)], "id long, g string")
    export_delta(df2, tab, mode="overwrite", partition_by=["g"])
    snap = read_delta_log(tab)
    live = {fe["rel_path"] for fe in snap["files"]}
    assert live.isdisjoint(v0_files), "overwritten files stayed live"
    assert delta_source(spark, tab).count() == 4
    # the JSON remove actions round-trip through quote/unquote
    with open(os.path.join(tab, "_delta_log",
                           "00000000000000000001.json")) as f:
        acts = [json.loads(line) for line in f]
    from urllib.parse import unquote
    removed = {unquote(a["remove"]["path"]) for a in acts
               if "remove" in a}
    assert removed == v0_files
    # vacuum now reclaims every overwritten file
    from spatial_spark.io.delta import vacuum_delta
    deleted = set(vacuum_delta(tab))
    assert deleted == v0_files


def test_delta_create_overwrite_race_refuses(spark, tmp_path):
    """ADVICE r14 medium: an overwrite that loses the race CREATING
    the table (snap is None) must surface the conflict, not silently
    rebase into an unvalidated blind append onto the winner's table."""
    import spatial_spark.io.delta as dmod
    tab = str(tmp_path / "cow")
    orig = dmod._write_commit
    state = {"fired": False}

    def racy(path, version, actions, store=None):
        if not state["fired"]:
            state["fired"] = True
            orig(path, version,
                 [{"commitInfo": {"timestamp": 0}},
                  {"protocol": {"minReaderVersion": 1,
                                "minWriterVersion": 2}},
                  {"metaData": {"id": "w", "format":
                                {"provider": "parquet", "options": {}},
                                "schemaString": "{}",
                                "partitionColumns": [],
                                "configuration": {}}}])
        return orig(path, version, actions, store=store)

    dmod._write_commit = racy
    try:
        with pytest.raises(RuntimeError, match="stale"):
            export_delta(spark.createDataFrame([(1,)], "id long"), tab,
                         mode="overwrite")
    finally:
        dmod._write_commit = orig


def test_delta_vacuum_spares_inflight_uncommitted_file(spark, tmp_path):
    """ADVICE r14 medium: a data file already moved out of staging by
    an in-flight writer (present on disk, in NO log action) must
    survive a default vacuum — only log-referenced dead files go.
    clean_staging=True (writer-quiescent mode) reclaims it."""
    from spatial_spark.io.delta import vacuum_delta
    tab = str(tmp_path / "vif")
    mk = lambda lo, hi: spark.createDataFrame(
        [(i,) for i in range(lo, hi)], "id long")
    export_delta(mk(0, 10), tab)
    export_delta(mk(10, 12), tab, mode="overwrite")  # v0 files now dead
    inflight = os.path.join(tab, "part-inflight-xyz.parquet")
    with open(inflight, "wb") as f:
        f.write(b"PAR1not-yet-committed")
    deleted = vacuum_delta(tab)
    assert deleted, "dead v0 files must still be reclaimed"
    assert os.path.exists(inflight), "in-flight file must survive"
    assert delta_source(spark, tab).count() == 2
    vacuum_delta(tab, clean_staging=True)
    assert not os.path.exists(inflight)


def test_delta_checkpoint_tombstones_and_config(spark, tmp_path):
    """ADVICE r14 low: the checkpoint carries metaData.configuration +
    format.options and remove TOMBSTONES, so (a) strict foreign
    engines see the full metaData, (b) vacuum after log cleanup still
    knows pre-checkpoint dead files."""
    import pyarrow.parquet as pq
    from spatial_spark.io.delta import (cleanup_delta_log,
                                        vacuum_delta)
    tab = str(tmp_path / "cptomb")
    mk = lambda lo, hi: spark.createDataFrame(
        [(i,) for i in range(lo, hi)], "id long")
    export_delta(mk(0, 10), tab)
    dead = {fe["rel_path"] for fe in read_delta_log(tab)["files"]}
    export_delta(mk(10, 13), tab, mode="overwrite")
    v = write_delta_checkpoint(tab)
    cp = pq.read_table(os.path.join(
        tab, "_delta_log", f"{v:020d}.checkpoint.parquet"))
    cols = set(cp.column_names)
    assert "remove" in cols
    md = [r for r in cp.column("metaData").to_pylist() if r]
    assert md and "configuration" in md[0]
    assert "options" in md[0]["format"]
    from urllib.parse import unquote
    tombs = {unquote(r["path"])
             for r in cp.column("remove").to_pylist() if r}
    assert tombs == dead
    # cleanup drops the JSON commits; the tombstones keep the dead
    # files knowable, so vacuum still reclaims them
    cleanup_delta_log(tab)
    deleted = set(vacuum_delta(tab))
    assert deleted == dead
    assert delta_source(spark, tab).count() == 3


class _FakeConditionalPutClient:
    """In-memory S3-semantics object client (put/get/list/delete with
    If-None-Match) mirrored onto tmp dir files so Spark/pyarrow can
    still read what the store 'hosts'."""

    def __init__(self):
        self.objects = {}
        self.put_calls = 0

    def put(self, key, data, if_none_match):
        self.put_calls += 1
        if if_none_match and key in self.objects:
            return False
        self.objects[key] = bytes(data)
        # mirror to the real fs so checkpoint reads via pq and the
        # commit JSONs stay inspectable
        os.makedirs(os.path.dirname(key), exist_ok=True)
        with open(key, "wb") as f:
            f.write(bytes(data))
        return True

    def get(self, key):
        if key not in self.objects:
            raise KeyError(key)
        return self.objects[key]

    def list(self, prefix):
        return [k for k in self.objects if k.startswith(prefix)]

    def delete(self, key):
        self.objects.pop(key, None)
        try:
            os.remove(key)
        except OSError:
            pass
        return True


def test_delta_logstore_conditional_put_fake(spark, tmp_path):
    """r14 verdict ask #2: the Delta log runs on the manifest's
    conditional-PUT IO seam.  The whole commit/read path goes through
    an S3ManifestIO over an in-memory fake client; the optimistic-
    concurrency behaviors (append rebase, overwrite refusal) hold."""
    from spatial_spark.io.delta import (CommitConflict, LogStore,
                                        _write_commit)
    from spatial_spark.manifest import S3ManifestIO
    client = _FakeConditionalPutClient()
    store = LogStore(S3ManifestIO(client))
    tab = str(tmp_path / "s3tab")
    mk = lambda ids: spark.createDataFrame([(i,) for i in ids],
                                           "id long")
    v = export_delta(mk([1, 2]), tab, store=store)
    assert v == 0 and client.put_calls > 0
    assert delta_source(spark, tab, store=store).count() == 2
    # append rebase through the fake: competitor takes version 1
    _write_commit(tab, 1, [{"commitInfo": {"timestamp": 0}}],
                  store=store)
    v = export_delta(mk([3]), tab, mode="append", store=store)
    assert v == 2
    assert delta_source(spark, tab, store=store).count() == 3
    # losing the put-if-absent on the same version raises the typed
    # conflict
    with pytest.raises(CommitConflict):
        _write_commit(tab, 2, [{"commitInfo": {"timestamp": 1}}],
                      store=store)
    # overwrite refusal through the fake
    import spatial_spark.io.delta as dmod
    orig = dmod._write_commit
    state = {"fired": False}

    def racy(path, version, actions, store=None):
        if not state["fired"]:
            state["fired"] = True
            orig(path, version, [{"commitInfo": {"timestamp": 0}}],
                 store=store)
        return orig(path, version, actions, store=store)

    dmod._write_commit = racy
    try:
        with pytest.raises(RuntimeError, match="stale"):
            export_delta(mk([9]), tab, mode="overwrite", store=store)
    finally:
        dmod._write_commit = orig
    # checkpoint + cleanup + replay all through the store
    cpv = write_delta_checkpoint(tab, store=store)
    from spatial_spark.io.delta import cleanup_delta_log
    cleanup_delta_log(tab, store=store)
    snap = read_delta_log(tab, store=store)
    assert snap["version"] == cpv
    assert delta_source(spark, tab, store=store).count() == 3
    # every log object the reader touched lives in the fake store
    assert any(k.endswith(".checkpoint.parquet")
               for k in client.objects)


# --------------------------------------------------------------------
# r15 review-findings regressions
# --------------------------------------------------------------------
def test_delta_checkpoint_one_action_per_row(spark, tmp_path):
    """Spec checkpoint format: ONE action per row (other columns
    null) and _last_checkpoint.size == the action count — the
    regression co-packed actions into shared padded rows."""
    import pyarrow.parquet as pq

    tab = str(tmp_path / "cp1")
    df = spark.range(10).selectExpr("id")
    export_delta(df.coalesce(2), tab, txn=("app", 1))
    export_delta(df.coalesce(1), tab, mode="overwrite")
    v = write_delta_checkpoint(tab)
    cp = os.path.join(tab, "_delta_log",
                      f"{v:020d}.checkpoint.parquet")
    t = pq.read_table(cp)
    cols = ["protocol", "metaData", "add", "remove", "txn"]
    rows = t.to_pylist()
    for r in rows:
        assert sum(r[c] is not None for c in cols) == 1, r
    lc = json.loads(open(os.path.join(
        tab, "_delta_log", "_last_checkpoint")).read())
    assert lc["size"] == len(rows)
    n_actions = sum(1 for r in rows for c in cols
                    if r[c] is not None)
    assert lc["size"] == n_actions


def test_delta_checkpoint_preserves_foreign_protocol(spark, tmp_path):
    """Checkpointing records the TABLE's protocol, never downgrades a
    foreign table's declared requirements."""
    import pyarrow.parquet as pq

    from spatial_spark.io.delta import _write_commit
    tab = str(tmp_path / "cpp")
    schema = json.dumps({"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True,
         "metadata": {}}]})
    _write_commit(tab, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 3}},
        {"metaData": {"id": "x", "format": {
            "provider": "parquet", "options": {}},
            "schemaString": schema, "partitionColumns": [],
            "configuration": {}, "createdTime": 0}},
        {"add": {"path": "a.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 0,
                 "dataChange": True}}])
    v = write_delta_checkpoint(tab)
    t = pq.read_table(os.path.join(
        tab, "_delta_log", f"{v:020d}.checkpoint.parquet"))
    protos = [r for r in t.column("protocol").to_pylist() if r]
    assert protos == [{"minReaderVersion": 1, "minWriterVersion": 3}]


def test_delta_writer_protocol_and_append_only(spark, tmp_path):
    """Writers refuse minWriterVersion > 2 / writerFeatures, and
    overwrite refuses delta.appendOnly=true tables."""
    from spatial_spark.io.delta import _write_commit
    df = spark.range(3).selectExpr("id")
    # schemaString comparison is STRING equality — use the exact form
    schema_str = df.schema.json()
    tab = str(tmp_path / "wp")
    _write_commit(tab, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 4}},
        {"metaData": {"id": "x", "format": {
            "provider": "parquet", "options": {}},
            "schemaString": schema_str,
            "partitionColumns": [], "configuration": {},
            "createdTime": 0}}])
    with pytest.raises(NotImplementedError, match="writer protocol"):
        export_delta(df, tab, mode="append")
    from spatial_spark.io.delta import optimize_delta
    with pytest.raises(NotImplementedError, match="writer protocol"):
        optimize_delta(spark, tab)

    tab2 = str(tmp_path / "ao")
    _write_commit(tab2, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "y", "format": {
            "provider": "parquet", "options": {}},
            "schemaString": schema_str,
            "partitionColumns": [],
            "configuration": {"delta.appendOnly": "true"},
            "createdTime": 0}}])
    with pytest.raises(ValueError, match="appendOnly"):
        export_delta(df, tab2, mode="overwrite")
    export_delta(df.coalesce(1), tab2, mode="append")   # appends fine
    assert delta_source(spark, tab2).count() == 3


def test_delta_nonfinite_stats_omitted(spark, tmp_path):
    """inf/NaN footer min/max never reach add.stats — json.dumps
    would emit non-RFC literals strict foreign parsers reject."""
    tab = str(tmp_path / "inf")
    df = spark.sql("""
        SELECT id, CASE WHEN id = 0 THEN double('Infinity')
                        ELSE CAST(id AS DOUBLE) END AS v
        FROM range(5)""")
    export_delta(df.coalesce(1), tab)
    log = open(os.path.join(
        tab, "_delta_log", f"{0:020d}.json")).read()
    assert "Infinity" not in log and "NaN" not in log
    for line in log.splitlines():
        json.loads(line)                         # strict-parseable
    snap = read_delta_log(tab)
    st = snap["files"][0]["stats"]
    assert "v" not in (st.get("minValues") or {})
    assert "id" in (st.get("minValues") or {})   # finite cols kept


def test_delta_partitions_key_validation(spark, tmp_path):
    """Unknown partitions= keys raise instead of silently matching
    nothing (delta_source, optimize_delta, iceberg_source)."""
    from spatial_spark.io.delta import optimize_delta
    tab = str(tmp_path / "pv")
    df = spark.range(20).selectExpr("id", "id % 2 AS g")
    export_delta(df, tab, partition_by=["g"])
    with pytest.raises(ValueError, match="not partition columns"):
        delta_source(spark, tab, partitions={"colour": "red"})
    with pytest.raises(ValueError, match="not partition columns"):
        optimize_delta(spark, tab, partitions={"colour": "red"})
    from spatial_spark.io.iceberg import (export_iceberg,
                                          iceberg_source)
    itab = str(tmp_path / "ipv")
    export_iceberg(df.coalesce(1), itab, partition_by=["g"])
    with pytest.raises(ValueError, match="not partition fields"):
        iceberg_source(spark, itab, partitions={"colour": 1})


def test_delta_zorder_bits_clamped(spark, tmp_path):
    """4+ z-order columns at default bits=16 would overflow the
    signed 64-bit key — bits clamp to 63 // n_cols and the rewrite
    stays content-identical."""
    from spatial_spark.io.delta import optimize_delta
    tab = str(tmp_path / "zb")
    df = spark.range(200).selectExpr(
        "id", "id % 7 AS a", "id % 11 AS b", "id % 13 AS c",
        "id % 17 AS d")
    export_delta(df.repartition(4), tab)
    optimize_delta(spark, tab, zorder_by=["a", "b", "c", "d"],
                   target_files=2)
    got = delta_source(spark, tab)
    assert got.count() == 200
    assert got.agg({"id": "sum"}).first()[0] == sum(range(200))


def test_delta_rebase_checks_partition_columns(spark, tmp_path):
    """A lost append whose partitioning differs from the winner's
    REFUSES instead of committing hive-layout adds onto a table whose
    metadata says unpartitioned (all-NULL partition column reads)."""
    import spatial_spark.io.delta as D
    tab = str(tmp_path / "rp")
    df = spark.range(10).selectExpr("id", "id % 2 AS g")
    real = D._write_commit
    state = {"raced": False}

    def racy(path, version, actions, store=None):
        if not state["raced"]:
            state["raced"] = True
            real(path, version, [
                {"protocol": dict(D._PROTOCOL)},
                {"metaData": {"id": "w", "format": {
                    "provider": "parquet", "options": {}},
                    "schemaString": df.schema.json(),
                    "partitionColumns": [], "configuration": {},
                    "createdTime": 0}}], store=store)
            raise FileExistsError(path)
        return real(path, version, actions, store=store)

    D._write_commit = racy
    try:
        with pytest.raises(ValueError,
                           match="different partition columns"):
            export_delta(df, tab, mode="append", partition_by=["g"])
    finally:
        D._write_commit = real


def test_logstore_delete_routes_through_io_remove(tmp_path):
    """LogStore.delete probes the seam's remove() (the manifest IO
    method name) before any local unlink — the regression probed a
    nonexistent delete() and always fell back to os.unlink."""
    from spatial_spark.io.delta import LogStore

    calls = []

    class IO:
        def remove(self, p):
            calls.append(p)
            return True
    st = LogStore(io=IO())
    assert st.delete("s3://bucket/obj") is True
    assert calls == ["s3://bucket/obj"]


def test_manifest_ios_read_bytes(tmp_path):
    """The IO seam now carries read_bytes (checkpoint parquet reads
    must go through the store, not a local open fallback)."""
    from spatial_spark.manifest import LocalManifestIO, S3ManifestIO
    p = str(tmp_path / "b.bin")
    LocalManifestIO().write_file(p, b"\x00\x01\xff")
    assert LocalManifestIO().read_bytes(p) == b"\x00\x01\xff"

    class Client:
        def __init__(self):
            self.d = {}

        def put(self, k, data, if_none_match):
            self.d[k] = bytes(data)
            return True

        def get(self, k):
            return self.d[k]

        def list(self, prefix):
            return [k for k in self.d if k.startswith(prefix)]

        def delete(self, k):
            return bool(self.d.pop(k, None))
    s3 = S3ManifestIO(Client())
    s3.write_file("k/b.bin", b"\x07\x00")
    assert s3.read_bytes("k/b.bin") == b"\x07\x00"


def test_delta_optimize_lost_commit_leaves_winner(spark, tmp_path,
                                                  monkeypatch):
    """optimize_delta never rebases: its remove set was computed
    against the snapshot it read.  Losing the put-if-absent race
    raises "concurrent commit", and the winner's version stays current
    with none of the optimize's removes or adds in it."""
    import spatial_spark.io.delta as D
    from spatial_spark.io.delta import optimize_delta
    tab = str(tmp_path / "optrace")
    for i in range(3):
        export_delta(spark.range(10 * i, 10 * i + 10).coalesce(1), tab,
                     mode="append" if i else "overwrite")
    before = read_delta_log(tab)
    winner = [{"commitInfo": {"timestamp": 0, "operation": "WRITE"}}]
    real = D._write_commit

    def racy(path, version, actions, store=None):
        real(path, version, winner, store=store)     # the winner lands
        return real(path, version, actions, store=store)

    monkeypatch.setattr(D, "_write_commit", racy)
    with pytest.raises(RuntimeError, match="concurrent commit"):
        optimize_delta(spark, tab, target_files=1)
    monkeypatch.undo()
    after = read_delta_log(tab)
    assert after["version"] == before["version"] + 1
    with open(os.path.join(tab, "_delta_log",
                           f"{after['version']:020d}.json")) as f:
        assert [json.loads(line) for line in f] == winner
    assert after["files"] == before["files"]
    assert delta_source(spark, tab).count() == 30
