"""Iceberg v2 interop (io/iceberg.py + io/avrofile.py) — the fourth
lakehouse leg.

No pyiceberg / DuckDB-iceberg / Avro lib exists in the container, so
conformance to the PUBLIC table spec (iceberg.apache.org/spec) is
pinned STRUCTURALLY here: metadata.json required keys, manifest-list
and manifest Avro layouts with the spec's field ids, single-value
binary bounds, snapshot lineage + time travel, put-if-absent commit
versioning, and loud refusal of the unimplemented tiers (partition
transforms, delete manifests, format v1/v3).  The round-trip gate
(iceberg_roundtrip) hash-compares export → independent replay against
the DuckDB oracle.
"""
import glob
import json
import os
import struct

import pytest
from pyspark.sql import functions as F

from spatial_spark.io.avrofile import read_avro, write_avro
from spatial_spark.io.iceberg import (export_iceberg, iceberg_source,
                                      layer_to_iceberg,
                                      read_iceberg_meta)


# --------------------------------------------------------------------
# avro container codec
# --------------------------------------------------------------------
def test_avro_roundtrip_all_types(tmp_path):
    sch = {"type": "record", "name": "r", "fields": [
        {"name": "a", "type": "long"},
        {"name": "b", "type": ["null", "string"], "default": None},
        {"name": "c", "type": {"type": "array", "items": {
            "type": "record", "name": "kv", "fields": [
                {"name": "key", "type": "int"},
                {"name": "value", "type": "bytes"}]}}},
        {"name": "d", "type": {"type": "map", "values": "long"}},
        {"name": "e", "type": "double"},
        {"name": "f", "type": "boolean"},
    ]}
    recs = [
        {"a": -(1 << 40), "b": None,
         "c": [{"key": 1, "value": b"\x00\xff"}],
         "d": {"x": 7, "y": -1}, "e": 2.5, "f": True},
        {"a": 0, "b": "héllo", "c": [], "d": {}, "e": -1e300,
         "f": False},
    ]
    p = str(tmp_path / "t.avro")
    write_avro(p, sch, recs, metadata={"k": "v"})
    s2, r2, m2 = read_avro(p)
    assert r2 == recs
    assert m2["k"] == b"v"
    assert s2["name"] == "r"


def test_avro_empty_and_deflate_read(tmp_path):
    sch = {"type": "record", "name": "r", "fields": [
        {"name": "a", "type": "long"}]}
    p = str(tmp_path / "e.avro")
    write_avro(p, sch, [])
    _, recs, _ = read_avro(p)
    assert recs == []
    # hand-build a deflate-codec file; reader must accept it
    import hashlib
    import io
    import zlib
    from spatial_spark.io.avrofile import (_MAGIC, _enc_bytes,
                                           _enc_str, _encode, _zigzag)
    body = bytearray(_MAGIC)
    meta = {"avro.schema": json.dumps(sch), "avro.codec": "deflate"}
    body += _zigzag(len(meta))
    for k, v in meta.items():
        body += _enc_str(k)
        body += _enc_bytes(v.encode())
    body += _zigzag(0)
    sync = hashlib.md5(b"x").digest()
    body += sync
    blk = bytearray()
    _encode(sch, {"a": 42}, blk)
    comp = zlib.compress(bytes(blk))[2:-4]      # raw deflate
    body += _zigzag(1) + _zigzag(len(comp)) + comp + sync
    _, recs2, _ = read_avro(bytes(body))
    assert recs2 == [{"a": 42}]


# --------------------------------------------------------------------
# table lifecycle
# --------------------------------------------------------------------
def _mkdf(spark, lo, hi):
    return spark.range(lo, hi).selectExpr(
        "id", "cast(id % 7 as double) as v",
        "concat('s', id % 13) as s")


def test_iceberg_roundtrip_and_layout(spark, tmp_path):
    tab = str(tmp_path / "t1")
    df = _mkdf(spark, 0, 500)
    snap = export_iceberg(df.repartition(4), tab, name="t1")
    got = iceberg_source(spark, tab)
    assert got.count() == 500
    assert sorted(r.id for r in got.collect()) == list(range(500))
    assert got.schema.simpleString() == \
        "struct<id:bigint,v:double,s:string>"

    # spec layout: versioned metadata json + hint + avro pair
    md = str(tmp_path / "t1" / "metadata")
    assert os.path.exists(os.path.join(md, "v1.metadata.json"))
    assert open(os.path.join(md, "version-hint.text")).read() == "1"
    meta = json.loads(open(os.path.join(md, "v1.metadata.json")).read())
    for key in ("format-version", "table-uuid", "location",
                "last-sequence-number", "last-column-id", "schemas",
                "current-schema-id", "partition-specs",
                "default-spec-id", "last-partition-id", "sort-orders",
                "current-snapshot-id", "snapshots", "snapshot-log"):
        assert key in meta, key
    assert meta["format-version"] == 2
    assert meta["last-partition-id"] == 999
    sn = meta["snapshots"][-1]
    assert sn["snapshot-id"] == snap
    assert sn["summary"]["operation"] == "overwrite"

    # manifest list: spec field ids in the avro schema + file metadata
    mlschema, mls, _ = read_avro(sn["manifest-list"])
    ids = {f["name"]: f.get("field-id")
           for f in mlschema["fields"]}
    assert ids["manifest_path"] == 500
    assert ids["added_snapshot_id"] == 503
    assert ids["sequence_number"] == 515
    assert len(mls) == 1 and mls[0]["content"] == 0
    # manifest: entry field ids + required file metadata keys
    mschema, rows, mmeta = read_avro(mls[0]["manifest_path"])
    eids = {f["name"]: f.get("field-id") for f in mschema["fields"]}
    assert eids["status"] == 0 and eids["data_file"] == 2
    dfids = {f["name"]: f.get("field-id")
             for f in next(f for f in mschema["fields"]
                           if f["name"] == "data_file")
             ["type"]["fields"]}
    assert dfids["file_path"] == 100 and dfids["lower_bounds"] == 125
    for key in ("schema", "partition-spec", "partition-spec-id",
                "format-version", "content"):
        assert key in mmeta, key
    assert mmeta["format-version"] == b"2"
    assert len(rows) == 4
    assert all(r["status"] == 1 for r in rows)
    assert sum(r["data_file"]["record_count"] for r in rows) == 500


def test_iceberg_append_time_travel_lineage(spark, tmp_path):
    tab = str(tmp_path / "t2")
    s1 = export_iceberg(_mkdf(spark, 0, 300).repartition(2), tab)
    s2 = export_iceberg(_mkdf(spark, 300, 450).repartition(2), tab,
                        mode="append")
    assert iceberg_source(spark, tab).count() == 450
    assert iceberg_source(spark, tab, snapshot_id=s1).count() == 300
    meta = read_iceberg_meta(tab)
    assert meta["snapshots"] == [s1, s2]
    # the append's manifest list must REUSE v1's manifest object
    md = json.loads(open(glob.glob(
        tab + "/metadata/v2.metadata.json")[0]).read())
    sn2 = next(s for s in md["snapshots"] if s["snapshot-id"] == s2)
    _, mls, _ = read_avro(sn2["manifest-list"])
    assert len(mls) == 2
    assert mls[0]["added_snapshot_id"] == s1     # untouched reuse
    assert md["last-sequence-number"] == 2
    sn2d = next(s for s in md["snapshots"] if s["snapshot-id"] == s2)
    assert sn2d["parent-snapshot-id"] == s1

    # overwrite starts a fresh live set; old snapshots stay readable
    s3 = export_iceberg(_mkdf(spark, 0, 10), tab, mode="overwrite")
    assert iceberg_source(spark, tab).count() == 10
    assert iceberg_source(spark, tab, snapshot_id=s2).count() == 450
    assert read_iceberg_meta(tab)["snapshots"] == [s1, s2, s3]


def test_iceberg_bounds_pruning(spark, tmp_path):
    tab = str(tmp_path / "t3")
    # range-partition so files carry disjoint id bounds
    df = _mkdf(spark, 0, 1000).repartitionByRange(8, "id")
    export_iceberg(df, tab)
    meta = read_iceberg_meta(tab)
    assert len(meta["files"]) == 8
    ids = {f["name"]: f["id"]
           for f in meta["schema"]["fields"]}
    fid = ids["id"]
    # every file carries decoded long bounds
    for fe in meta["files"]:
        lo, hi = fe["bounds"][fid]
        assert isinstance(lo, int) and lo <= hi
    # a narrow window must plan fewer files than the table holds
    src = iceberg_source(spark, tab, props={"id": (400, 420)})
    planned = src.inputFiles()
    assert 0 < len(planned) < 8
    got = src.filter(F.col("id").between(400, 420))
    assert got.count() == 21
    # string bounds prune too
    src2 = iceberg_source(spark, tab, props={"s": ("zzz", None)})
    assert len(src2.inputFiles() if src2.count() else []) == 0


def test_iceberg_single_value_binary(tmp_path, spark):
    tab = str(tmp_path / "t4")
    export_iceberg(_mkdf(spark, 5, 6).coalesce(1), tab)
    sn = json.loads(open(
        tab + "/metadata/v1.metadata.json").read())["snapshots"][-1]
    _, mls, _ = read_avro(sn["manifest-list"])
    _, rows, _ = read_avro(mls[0]["manifest_path"])
    lb = {e["key"]: e["value"]
          for e in rows[0]["data_file"]["lower_bounds"]}
    assert struct.unpack("<q", lb[1])[0] == 5          # id long LE
    assert struct.unpack("<d", lb[2])[0] == 5.0        # v double LE
    assert lb[3] == b"s5"                              # s utf-8


def test_iceberg_refusals(spark, tmp_path):
    tab = str(tmp_path / "t5")
    df = _mkdf(spark, 0, 10)
    with pytest.raises(ValueError, match="not in the schema"):
        export_iceberg(df, tab, partition_by=["nope"])
    export_iceberg(df, tab)
    with pytest.raises(ValueError, match="schema differs"):
        export_iceberg(spark.range(5).selectExpr(
            "id", "cast(id as string) as v", "'x' as s"),
            tab, mode="append")
    # foreign format version refuses loudly
    md = tab + "/metadata"
    doc = json.loads(open(md + "/v1.metadata.json").read())
    doc["format-version"] = 3
    open(md + "/v9.metadata.json", "w").write(json.dumps(doc))
    open(md + "/version-hint.text", "w").write("9")
    with pytest.raises(NotImplementedError, match="format-version"):
        read_iceberg_meta(tab)


def test_iceberg_commit_race_semantics(spark, tmp_path):
    """Optimistic concurrency: a lost APPEND rebases onto the
    winner's snapshot and retries (its files are disjoint); a lost
    OVERWRITE surfaces — its removes were computed against a stale
    snapshot (the Delta-leg rule)."""
    tab = str(tmp_path / "t6")
    export_iceberg(_mkdf(spark, 0, 10).coalesce(1), tab)
    # simulate a concurrent winner at v2 (valid metadata — a copy of
    # v1 with a bumped snapshot list is close enough: reuse v1 doc)
    md = tab + "/metadata"
    doc = open(md + "/v1.metadata.json").read()
    open(md + "/v2.metadata.json", "w").write(doc)
    # append: loses at v2, re-reads, lands at v3 with ALL rows live
    export_iceberg(_mkdf(spark, 10, 20).coalesce(1), tab,
                   mode="append")
    assert os.path.exists(md + "/v3.metadata.json")
    assert iceberg_source(spark, tab).count() == 20
    # overwrite losing the put-if-absent race ITSELF refuses (a
    # pre-existing version file is legitimately absorbed by the
    # self-healing read, so inject the conflict at commit time)
    from spatial_spark.io.delta import LogStore

    class Racy(LogStore):
        def put_commit(self, p, body):
            import shutil as _sh
            _sh.copyfile(md + "/v3.metadata.json", p)   # winner lands
            return super().put_commit(p, body)
    with pytest.raises(RuntimeError, match="concurrent commit"):
        export_iceberg(_mkdf(spark, 0, 5).coalesce(1), tab,
                       mode="overwrite", store=Racy())


def test_layer_to_iceberg_metadata_only(ctx, spark, tmp_path):
    """layer_to_iceberg translates the manifest snapshot into Iceberg
    metadata with ABSOLUTE file paths and manifest-derived bounds —
    zero data copied; the independent reader sees the layer's rows
    and prunes on the translated stats."""
    layer = ctx.create_point_layer("l2i", x="lon", y="lat")
    for base in (0, 1000):
        layer.add(spark.createDataFrame(
            [(base + i, float(base // 100 + i % 7), 45.0, base + i)
             for i in range(60)],
            "id long, lon double, lat double, score long"))
    out = str(tmp_path / "l2i_ice")
    snap = layer_to_iceberg(layer, out, name="l2i_snap")
    meta = read_iceberg_meta(out)
    assert meta["snapshot_id"] == snap
    n_layer_files = len(layer._manifest.files())
    assert len(meta["files"]) == n_layer_files
    # zero data copied: no parquet under the clone dir
    assert glob.glob(out + "/data/*.parquet") == []
    assert all(os.path.isabs(fe["path"]) for fe in meta["files"])
    got = iceberg_source(spark, out)
    assert got.count() == 120
    assert set(got.columns) >= {"id", "lon", "lat", "score"}
    # translated attribute bounds prune: scores live in [0, 59] and
    # [1000, 1059] across the two adds' files
    ids = {f["name"]: f["id"] for f in meta["schema"]["fields"]}
    sc = ids.get("score")
    have_bounds = [fe for fe in meta["files"]
                   if sc in fe["bounds"]]
    assert have_bounds, "score bounds must translate"
    pruned = iceberg_source(spark, out, props={"score": (2000, None)})
    assert pruned.count() == 0


def test_iceberg_manifest_merge_on_many_appends(spark, tmp_path):
    """Past _MERGE_MANIFESTS_AT appends, the next commit merges the
    accumulated manifests into one existing-status manifest, so
    planning stays a flat 2-3 Avro reads no matter how many appends
    the table has seen (spec manifest-rewrite; the Delta-checkpoint
    twin)."""
    from spatial_spark.io.iceberg import _MERGE_MANIFESTS_AT
    tab = str(tmp_path / "tm")
    export_iceberg(_mkdf(spark, 0, 10).coalesce(1), tab)
    n_appends = _MERGE_MANIFESTS_AT + 2
    for i in range(1, n_appends + 1):
        export_iceberg(_mkdf(spark, 10 * i, 10 * i + 10).coalesce(1),
                       tab, mode="append")
    meta = read_iceberg_meta(tab)
    total = 10 * (n_appends + 1)
    assert sum(f["records"] for f in meta["files"]) == total
    assert iceberg_source(spark, tab).count() == total
    # the live manifest list is merged + newest, never n_appends long
    md = json.loads(open(glob.glob(
        tab + "/metadata/version-hint.text")[0].replace(
            "version-hint.text",
            f"v{n_appends + 1}.metadata.json")).read())
    sn = next(s for s in md["snapshots"]
              if s["snapshot-id"] == md["current-snapshot-id"])
    _, mls, _ = read_avro(sn["manifest-list"])
    # bounded by the threshold forever, never n_appends long
    assert len(mls) <= _MERGE_MANIFESTS_AT < n_appends
    assert any(mf["existing_files_count"] > 0 for mf in mls)
    # merged entries keep their original sequence numbers
    _, rows, _ = read_avro(mls[0]["manifest_path"])
    seqs = {e["sequence_number"] for e in rows}
    assert len(seqs) > 1 and min(seqs) == 1
    assert all(e["status"] == 0 for e in rows)


def test_iceberg_identity_partitioned(spark, tmp_path):
    """r15 second wave: identity partition transforms — hive-layout
    data files, typed partition values in the manifests, spec fields
    with field-ids >= 1000, partition pruning (exact and via the
    identity value folded into bounds), and basePath restoring the
    partition columns in the table schema's declared order."""
    from spatial_spark.io.iceberg import read_avro as _ra
    tab = str(tmp_path / "tp")

    def mk(lo, hi):
        return (spark.range(lo, hi)
                .selectExpr("id", "id % 4 AS g",
                            "cast(id as double)/3 as v").coalesce(2))

    export_iceberg(mk(0, 400), tab, partition_by=["g"])
    meta = read_iceberg_meta(tab)
    assert sorted({f["partition"]["g"] for f in meta["files"]}) == \
        [0, 1, 2, 3]
    assert meta["spec_fields"] == [
        {"name": "g", "transform": "identity", "source-id": 2,
         "field-id": 1000}]
    md = json.loads(open(tab + "/metadata/v1.metadata.json").read())
    assert md["last-partition-id"] == 1000
    # typed partition struct in the manifest avro itself
    sn = md["snapshots"][-1]
    _, mls, _ = read_avro(sn["manifest-list"])
    msch, rows, mmeta = read_avro(mls[0]["manifest_path"])
    r102 = next(f for f in msch["fields"]
                if f["name"] == "data_file")["type"]
    pf = next(f for f in r102["fields"]
              if f["name"] == "partition")["type"]["fields"]
    assert pf[0]["name"] == "g" and pf[0]["field-id"] == 1000
    assert json.loads(mmeta["partition-spec"])[0]["transform"] == \
        "identity"
    assert isinstance(rows[0]["data_file"]["partition"]["g"], int)

    src = iceberg_source(spark, tab)
    assert src.columns == ["id", "g", "v"]       # declared order
    assert src.count() == 400
    assert src.selectExpr("sum(id)").first()[0] == sum(range(400))
    # hive dirs under data/
    assert glob.glob(tab + "/data/g=2/*.parquet")

    # partition pruning, both spellings
    one = iceberg_source(spark, tab, partitions={"g": 2})
    assert one.count() == 100
    assert len(one.inputFiles()) < len(meta["files"])
    pr = iceberg_source(spark, tab, props={"g": (3, 3)})
    assert len(pr.inputFiles()) < len(meta["files"])
    assert pr.count() == 100

    # append must repeat the partition columns (the Delta contract)
    with pytest.raises(ValueError, match="partition columns differ"):
        export_iceberg(mk(400, 500), tab, mode="append")
    export_iceberg(mk(400, 500), tab, mode="append",
                   partition_by=["g"])
    assert iceberg_source(spark, tab).count() == 500


def test_iceberg_expire_snapshots(spark, tmp_path):
    """Snapshot expiration trims the metadata history (the
    probe_iceberg_log growth tail), deletes only objects no surviving
    snapshot references, and keeps the current snapshot readable."""
    from spatial_spark.io.iceberg import expire_snapshots
    tab = str(tmp_path / "te")
    export_iceberg(_mkdf(spark, 0, 50).coalesce(1), tab)
    for i in range(1, 5):
        export_iceberg(_mkdf(spark, 50 * i, 50 * (i + 1)).coalesce(1),
                       tab, mode="append")
    assert len(read_iceberg_meta(tab)["snapshots"]) == 5
    n_mls = len(glob.glob(tab + "/metadata/snap-*.avro"))
    assert n_mls == 5
    r = expire_snapshots(tab, keep_last=2)
    assert r["removed_snapshots"] == 3
    meta = read_iceberg_meta(tab)
    assert len(meta["snapshots"]) == 2
    assert iceberg_source(spark, tab).count() == 250
    # expired manifest lists gone; shared manifests survive
    assert len(glob.glob(tab + "/metadata/snap-*.avro")) == 2
    # data untouched without clean_data; current still fully readable
    assert sum(f["records"] for f in meta["files"]) == 250
    with pytest.raises(ValueError, match="keep_last"):
        expire_snapshots(tab, keep_last=0)


def test_iceberg_expire_clean_data_drops_overwritten(spark, tmp_path):
    """clean_data=True reclaims data files only expired snapshots
    referenced (an overwritten generation), and never touches files a
    surviving snapshot still needs."""
    from spatial_spark.io.iceberg import expire_snapshots
    tab = str(tmp_path / "tc")
    export_iceberg(_mkdf(spark, 0, 40).coalesce(1), tab)
    export_iceberg(_mkdf(spark, 100, 120).coalesce(1), tab,
                   mode="overwrite")
    n_data = len(glob.glob(tab + "/data/*.parquet"))
    assert n_data == 2
    r = expire_snapshots(tab, keep_last=1, clean_data=True)
    assert r["removed_snapshots"] == 1
    assert len(glob.glob(tab + "/data/*.parquet")) == 1
    assert iceberg_source(spark, tab).count() == 20


def test_layer_iceberg_layer_roundtrip(ctx, spark, tmp_path):
    """layer -> layer_to_iceberg -> layer_from_iceberg reconstitutes
    the layer: same rows, same geometries, attributes intact; the
    derived core columns are recomputed by the import's own write
    path (the Delta inverse-leg twin)."""
    from spatial_spark.io.iceberg import layer_from_iceberg

    src = ctx.create_layer("irt_src", encoder="wkb")
    rows = spark.sql("""
        SELECT id, st_geomfromtext(concat(
            'POINT (', CAST(id % 50 AS STRING), ' ',
            CAST(id % 20 AS STRING), ')')) AS geom,
            concat('t', CAST(id AS STRING)) AS tag
        FROM range(80)""")
    src.add(rows)
    out = str(tmp_path / "irt_ice")
    layer_to_iceberg(src, out)
    back = layer_from_iceberg(ctx, out, "irt_back")
    a = src.df().select("tag", "xmin", "ymin").orderBy("tag").collect()
    b = back.df().select("tag", "xmin", "ymin").orderBy("tag").collect()
    assert a == b and len(a) == 80
    # non-layer-shaped tables refuse
    plain = str(tmp_path / "plain")
    export_iceberg(spark.createDataFrame([(1,)], "id long"), plain)
    with pytest.raises(ValueError, match="geom"):
        layer_from_iceberg(ctx, plain, "nope")


# --------------------------------------------------------------------
# r15 review-findings regressions
# --------------------------------------------------------------------
def test_iceberg_decimal_roundtrip(spark, tmp_path):
    """DecimalType carries precision/scale into the Iceberg schema
    (typeName() is the bare word — the regression wrote 'decimal')."""
    tab = str(tmp_path / "tdec")
    df = spark.range(5).selectExpr(
        "id", "CAST(id * 1.5 AS DECIMAL(12, 4)) AS d")
    export_iceberg(df.coalesce(1), tab)
    meta = read_iceberg_meta(tab)
    dfield = next(f for f in meta["schema"]["fields"]
                  if f["name"] == "d")
    assert dfield["type"] == "decimal(12, 4)"
    got = iceberg_source(spark, tab)
    assert got.schema["d"].dataType.simpleString() == "decimal(12,4)"
    assert got.count() == 5
    assert float(got.agg({"d": "sum"}).first()[0]) == 15.0


def test_iceberg_date_partitioned(spark, tmp_path):
    """Identity-partitioning on a DATE column: hive dir strings
    become days-from-epoch ints in the manifests (the regression
    crashed on int('2024-01-01'))."""
    tab = str(tmp_path / "tdate")
    df = spark.sql("""
        SELECT id, DATE_ADD(DATE '2024-01-01', CAST(id % 3 AS INT))
               AS day FROM range(30)""")
    export_iceberg(df.coalesce(1), tab, partition_by=["day"])
    meta = read_iceberg_meta(tab)
    import datetime
    want = {(datetime.date(2024, 1, 1)
             - datetime.date(1970, 1, 1)).days + k for k in range(3)}
    assert {f["partition"]["day"] for f in meta["files"]} == want
    src = iceberg_source(spark, tab)
    assert src.count() == 30
    assert src.filter("day = DATE '2024-01-02'").count() == 10
    one = iceberg_source(spark, tab,
                         partitions={"day": min(want) + 1})
    assert one.count() == 10


def test_iceberg_schema_history_time_travel(spark, tmp_path):
    """An overwrite that changes the schema appends a new schemas[]
    entry; snapshots pin their schema-id, so time travel decodes old
    manifests under the schema they were written with (the
    regression replaced the list and mis-decoded old bounds)."""
    tab = str(tmp_path / "tsch")
    s1 = export_iceberg(
        spark.range(20).selectExpr(
            "CAST(id AS INT) AS x").coalesce(1), tab)
    s2 = export_iceberg(
        spark.range(30).selectExpr("id AS x").coalesce(1), tab,
        mode="overwrite")
    md = json.loads(open(tab + "/metadata/v2.metadata.json").read())
    assert len(md["schemas"]) == 2
    sids = {s["snapshot-id"]: s["schema-id"] for s in md["snapshots"]}
    assert sids[s1] != sids[s2]
    # old snapshot reads under INT, new under BIGINT — both exact
    old = iceberg_source(spark, tab, snapshot_id=s1)
    assert old.schema["x"].dataType.simpleString() == "int"
    assert old.count() == 20
    new = iceberg_source(spark, tab)
    assert new.schema["x"].dataType.simpleString() == "bigint"
    assert new.count() == 30


def test_iceberg_stale_hint_self_heals(spark, tmp_path):
    """A writer dying between put_commit(vN) and the hint update must
    not wedge the table: the reader probes v{hint+1} and falls back
    to the listing, and the next commit lands at N+1."""
    tab = str(tmp_path / "thint")
    export_iceberg(_mkdf(spark, 0, 10).coalesce(1), tab)
    s2 = export_iceberg(_mkdf(spark, 10, 20).coalesce(1), tab,
                        mode="append")
    # simulate the crash: roll the hint back to 1
    open(tab + "/metadata/version-hint.text", "w").write("1")
    meta = read_iceberg_meta(tab)
    assert meta["snapshot_id"] == s2             # newest, not hinted
    assert iceberg_source(spark, tab).count() == 20
    export_iceberg(_mkdf(spark, 20, 25).coalesce(1), tab,
                   mode="overwrite")             # no conflict wedge
    assert iceberg_source(spark, tab).count() == 5


def test_iceberg_append_relaxes_required(spark, tmp_path):
    """Appending a nullable frame into a required column relaxes
    required -> optional (spec-legal evolution) instead of keeping a
    non-null contract the new files may violate."""
    from pyspark.sql import types as T
    tab = str(tmp_path / "treq")
    export_iceberg(spark.range(5).selectExpr("id"), tab)
    assert next(f for f in read_iceberg_meta(tab)["schema"]["fields"]
                if f["name"] == "id")["required"]
    nullable = spark.createDataFrame(
        [(None,), (7,)], T.StructType(
            [T.StructField("id", T.LongType(), True)]))
    export_iceberg(nullable, tab, mode="append")
    meta = read_iceberg_meta(tab)
    assert not next(f for f in meta["schema"]["fields"]
                    if f["name"] == "id")["required"]
    got = iceberg_source(spark, tab)
    assert got.schema["id"].nullable
    assert got.count() == 7
    assert got.filter("id IS NULL").count() == 1


@pytest.mark.parametrize("fmt", ["iceberg", "delta"])
def test_iceberg_distributed_publish(spark, tmp_path, fmt):
    """Above _DISTRIBUTE_PUBLISH_AT staged files the move+footer pass
    (manifest.publish_staged, shared by both table formats) runs as a
    Spark job; the committed file set stays complete, sorted and
    carries per-file stats."""
    from spatial_spark.io.delta import (delta_source, export_delta,
                                        read_delta_log)
    from spatial_spark.manifest import _DISTRIBUTE_PUBLISH_AT
    tab = str(tmp_path / "tbig")
    n = _DISTRIBUTE_PUBLISH_AT + 8
    frame = spark.range(2000).repartition(n)
    if fmt == "iceberg":
        export_iceberg(frame, tab)
        files = read_iceberg_meta(tab)["files"]
        records = [f["records"] for f in files]
        count = iceberg_source(spark, tab).count()
    else:
        export_delta(frame, tab)
        files = read_delta_log(tab)["files"]
        records = [f["stats"]["numRecords"] for f in files]
        count = delta_source(spark, tab).count()
    paths = [f["path"] for f in files]
    assert len(files) == n and paths == sorted(paths)
    assert all(os.path.exists(p) for p in paths)
    assert sum(records) == 2000 and count == 2000
    # the staging dir is gone once its files are published
    assert not glob.glob(os.path.join(tab, "_staging-*"))


def test_iceberg_expire_lost_commit_deletes_nothing(spark, tmp_path):
    """expire_snapshots never rebases: losing the put-if-absent
    metadata-version race raises, the winner's metadata version stays
    current, and no manifest, manifest list or data object is
    deleted (the deletes run only after a won commit)."""
    from spatial_spark.io.delta import LogStore
    from spatial_spark.io.iceberg import _read_table_meta, expire_snapshots
    tab = str(tmp_path / "tx")
    export_iceberg(_mkdf(spark, 0, 20).coalesce(1), tab)
    export_iceberg(_mkdf(spark, 20, 40).coalesce(1), tab,
                   mode="overwrite")
    for i in (2, 3):
        export_iceberg(_mkdf(spark, 20 * i, 20 * (i + 1)).coalesce(1),
                       tab, mode="append")
    md = tab + "/metadata"
    winner = open(md + "/v4.metadata.json").read()

    def objects():
        return {os.path.join(r, f) for r, _, fs in os.walk(tab)
                for f in fs}
    before = objects()

    class Racy(LogStore):
        def put_commit(self, p, body):
            super().put_commit(p, winner)              # the winner lands
            return super().put_commit(p, body)
    with pytest.raises(RuntimeError, match="concurrent commit"):
        expire_snapshots(tab, keep_last=1, clean_data=True,
                         store=Racy())
    version, meta = _read_table_meta(tab, LogStore(), prefer_hint=False)
    assert version == 5
    assert meta == json.loads(winner)
    assert objects() == before | {md + "/v5.metadata.json"}
    assert iceberg_source(spark, tab).count() == 60


@pytest.mark.parametrize("change", ["partition_spec", "schema"])
def test_iceberg_rebase_checks_winner(spark, tmp_path, change):
    """A lost append whose partition spec or schema differs from the
    winner's refuses with ValueError instead of rebasing its files
    onto a table they do not fit."""
    from spatial_spark.io.delta import LogStore
    tab = str(tmp_path / "tr")
    export_iceberg(_mkdf(spark, 0, 10).coalesce(1), tab)
    # the winner: another table's v1, partitioned or with one column more
    other = str(tmp_path / "other")
    if change == "partition_spec":
        export_iceberg(_mkdf(spark, 0, 10).coalesce(1), other,
                       partition_by=["s"])
    else:
        export_iceberg(_mkdf(spark, 0, 10).selectExpr("*", "1 AS w")
                       .coalesce(1), other)
    winner = open(other + "/metadata/v1.metadata.json").read()

    class Racy(LogStore):
        def put_commit(self, p, body):
            if not os.path.exists(p):
                super().put_commit(p, winner)          # the winner lands
            return super().put_commit(p, body)
    with pytest.raises(ValueError):
        export_iceberg(_mkdf(spark, 10, 20).coalesce(1), tab,
                       mode="append", store=Racy())
    assert open(tab + "/metadata/v2.metadata.json").read() == winner
    assert not os.path.exists(tab + "/metadata/v3.metadata.json")
