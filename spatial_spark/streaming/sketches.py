"""Streaming cross-batch dedup via an accreting Bloom seen-set.

`streaming/dedup.py` dedups within a WATERMARK horizon — state is
exact but bounded by time.  This module is the complement for
unbounded horizons: a Bloom filter of every key ever admitted, carried
across micro-batches as a tiny parquet bitmap (operators/sketch.py),
so state is bounded by the FILTER size (m_bits/8 bytes, forever)
instead of the stream's lifetime.  The trade is the Bloom contract:
nothing previously admitted is ever re-admitted (no false negatives);
~fpr of genuinely-new rows are wrongly dropped.

Per micro-batch (foreachBatch):
  1. in-batch exact dedup on the key (the bloom can only see PRIOR
     batches),
  2. filter against the current bloom (definitely-new survivors),
  3. ADMIT survivors through a MANIFEST COMMIT on the output store
     (spatial_spark.manifest): the new part files and the stream-epoch
     marker publish in ONE atomic CAS rename, so a crash anywhere in
     the batch leaves either "epoch fully admitted" or "epoch not
     admitted, orphan files invisible to manifest readers" — never the
     duplicate-replay window the old separate marker file had
     (ADVICE r7),
  4. fold the survivors' positions into the bloom (union + bit_or)
     and publish it with write-temp + atomic rename, tagged with the
     epoch it reflects.

The bloom is a CACHE of the committed store: if a crash lands between
the manifest publish and the bloom swap, the next batch sees the tag
lag the store's epoch and rebuilds the bloom exactly from the admitted
rows — no key ever re-admits and no row is silently dropped.

Reading the output: ``read_admitted(spark, out_path)`` resolves the
manifest (exactly-once even across crashes).  A raw directory read
matches it in crash-free runs but may additionally see orphan files
from an interrupted batch (gc-able via Manifest.gc()).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_admitted(spark: SparkSession, out_path: str):
    """The admitted rows per the CURRENT manifest snapshot (None when
    nothing has committed yet)."""
    from ..manifest import Manifest
    files = Manifest(out_path).files()
    if not files:
        return None
    return spark.read.parquet(*files)


def stream_dedup_with_bloom(stream_df: DataFrame, out_path: str,
                            bloom_path: str, checkpoint: str,
                            key_col: str = "text", id_col: str = "doc_id",
                            m_bits: int = 1 << 20, k: int = 5,
                            available_now: bool = True):
    """Start the bloom-dedup stream; returns the StreamingQuery.

    ``out_path`` accretes the admitted rows (manifest-committed parquet
    appends); ``bloom_path`` holds the current bitmap (atomically
    swapped each batch, epoch-tagged).  Determinism: positions are md5
    arithmetic, so which rows are admitted is exactly reproducible —
    pinned against a Python replay in tests."""
    import hashlib

    from ..manifest import Manifest, publish_staged
    from ..operators.sketch import bloom_filter_new, build_bloom

    spark = stream_df.sparkSession
    # epoch-marker key = the HADOOP-QUALIFIED checkpoint URI (same
    # rationale as streaming/ingest.py: a relative path restarted from
    # another cwd must not change the key)
    try:
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        jp = jvm.org.apache.hadoop.fs.Path(checkpoint)
        ckpt_id = str(jp.getFileSystem(conf).makeQualified(jp))
    except Exception:
        ckpt_id = os.path.abspath(checkpoint)
    ckpt_key = hashlib.md5(ckpt_id.encode()).hexdigest()[:12]
    tag_path = bloom_path + "_epoch.json"

    def bloom_tag() -> int:
        try:
            with open(tag_path) as fh:
                return int(json.load(fh)["epoch"])
        except (OSError, ValueError, KeyError):
            return -1

    def publish_bloom(df, epoch_id: int) -> None:
        tmp = bloom_path + ".tmp"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        old = bloom_path + ".old"
        if os.path.exists(bloom_path):
            shutil.rmtree(old, ignore_errors=True)
            os.rename(bloom_path, old)
        os.rename(tmp, bloom_path)
        shutil.rmtree(old, ignore_errors=True)
        ttmp = tag_path + ".tmp"
        with open(ttmp, "w") as fh:
            json.dump({"epoch": int(epoch_id)}, fh)
        os.rename(ttmp, tag_path)

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        man = Manifest(out_path)
        meta = man.current_meta()
        last = int(meta.get("stream_epochs", {}).get(ckpt_key, -1))
        if epoch_id <= last:
            return  # replayed epoch: its admit already committed
        if batch_df.isEmpty():
            return
        # bloom freshness: the tag must match the store's last epoch;
        # a crash between manifest publish and bloom swap leaves it
        # behind — rebuild EXACTLY from the admitted rows
        files = man.files()
        if last >= 0 and files and bloom_tag() != last:
            admitted = spark.read.parquet(*files)
            publish_bloom(
                build_bloom(admitted, key_col=key_col,
                            m_bits=m_bits, k=k), last)
        have_bloom = os.path.exists(bloom_path)
        # 1. in-batch exact dedup (min id per key — deterministic)
        w_keys = (batch_df.groupBy(key_col)
                  .agg(F.min(id_col).alias(id_col)))
        batch = batch_df.join(w_keys, [key_col, id_col], "left_semi")
        # 2. filter against the prior bloom
        if have_bloom:
            bloom = spark.read.parquet(bloom_path)
            new = bloom_filter_new(batch, bloom, key_col=key_col,
                                   id_col=id_col, m_bits=m_bits, k=k)
        else:
            new = batch
        new = new.persist()
        try:
            # 3. admit survivors atomically WITH the epoch marker: part
            # files move in first (invisible orphans until publish),
            # then one manifest CAS carries files + stream_epochs
            tmp = out_path + f".epoch{epoch_id}.tmp"
            new.write.mode("overwrite").parquet(tmp)
            # data moves via the manifest IO (ADVICE r8 medium: scheme'd
            # stores broke after the publish when these were os/shutil)
            moved = publish_staged(
                man.io, tmp, out_path, spark=spark,
                name=lambda rel, i: f"part-e{epoch_id}-{rel[5:]}")
            with man.lock() as lk:
                epochs = dict(man.current_meta().get("stream_epochs", {}))
                epochs[ckpt_key] = int(epoch_id)
                # commit_delta dedups already-present names itself (the
                # lo/hi shard ranges bound which docs it opens), so the
                # admit never materializes the snapshot — O(changed)
                man.commit_delta(add=moved, lock_token=lk.token,
                                 meta={"stream_epochs": epochs})
            # 4. fold survivors into the bloom and publish (crash here
            # → next batch rebuilds from the store, see above)
            delta = build_bloom(new, key_col=key_col, m_bits=m_bits, k=k)
            if have_bloom:
                delta = (spark.read.parquet(bloom_path)
                         .unionByName(delta)
                         .groupBy("word").agg(F.expr("bit_or(bits)")
                                              .alias("bits")))
            publish_bloom(delta, epoch_id)
        finally:
            new.unpersist()

    writer = (stream_df.writeStream
              .foreachBatch(write_batch)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_quantile_state(spark: SparkSession, state_path: str):
    """Current accreted sketch rows (None before the first batch)."""
    if not os.path.exists(state_path):
        return None
    return spark.read.parquet(state_path)


def stream_quantile_sketch(stream_df: DataFrame, value_col: str,
                           state_path: str, checkpoint: str,
                           k: int = 256, available_now: bool = True):
    """Streaming twin of operators/quantiles: an MRL sketch accreting
    across micro-batches, so running quantiles of an unbounded stream
    cost O(k·log n) state forever.

    Per batch (foreachBatch): the batch's values build a sketch through
    the normal DISTRIBUTED path (per-partition sketches → canonical
    merge — the batch data is never collected), the tiny resulting rows
    fold into the persisted sketch with the same deterministic
    compactor, and the new state publishes via write-temp + atomic
    swap, epoch-tagged: a replayed epoch is skipped, so crash/replay
    never double-counts weight (exactly-once fold — pinned in tests
    along with stream == local-model replay, bit-exact).

    Driver-side economy (r10, same as stream_kmv_sketch): the state is
    O(k·log n) tiny rows, so the fold keeps a driver cache of them
    (disk read only on the first batch / after a restart) and
    publishes with a direct pyarrow parquet FILE write + os.replace —
    per-batch cost is ONE Spark job (the distributed partial build).
    A legacy directory-layout state is read fine and swapped to the
    file layout on the next publish."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..operators.quantiles import (MRLSketch, merge_sketches,
                                       partition_sketches)

    spark = stream_df.sparkSession
    tag_path = state_path + "_epoch.json"
    ckpt_key = os.path.abspath(checkpoint)
    cache: dict = {"rows": None}     # driver twin of the tiny state

    def state_tag() -> int:
        # Epoch ids are only meaningful WITHIN one checkpoint: a fresh
        # checkpoint restarts them at 0, so the replay guard must match
        # on (checkpoint, epoch), not the bare number — otherwise a new
        # stream over NEW data reusing state_path silently drops every
        # batch whose restarted epoch id <= the recorded tag.
        try:
            with open(tag_path) as fh:
                tag = json.load(fh)
            if tag.get("checkpoint") != ckpt_key:
                return -1                # new checkpoint: tag reset
            return int(tag["epoch"])
        except (OSError, ValueError, KeyError):
            return -1

    def load_prior() -> list:
        if cache["rows"] is None:
            prior = read_quantile_state(spark, state_path)
            cache["rows"] = ([] if prior is None
                             else [(int(r.level), float(r.value))
                                   for r in prior.collect()])
        return cache["rows"]

    def publish(rows: list, epoch_id: int) -> None:
        tbl = pa.table({
            "level": pa.array([int(lv) for lv, _ in rows], pa.int32()),
            "value": pa.array([float(v) for _, v in rows], pa.float64())})
        tmp = state_path + ".tmp"
        pq.write_table(tbl, tmp)
        if os.path.isdir(state_path):    # legacy dir layout: swap out
            old = state_path + ".old"
            shutil.rmtree(old, ignore_errors=True)
            os.rename(state_path, old)
            os.rename(tmp, state_path)
            shutil.rmtree(old, ignore_errors=True)
        else:
            os.replace(tmp, state_path)  # atomic file swap
        ttmp = tag_path + ".tmp"
        with open(ttmp, "w") as fh:
            json.dump({"epoch": int(epoch_id), "checkpoint": ckpt_key}, fh)
        os.rename(ttmp, tag_path)
        cache["rows"] = rows

    def fold_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if epoch_id <= state_tag():
            return                       # replayed epoch: already folded
        batch_rows = [(int(r.level), float(r.value)) for r in
                      merge_sketches(partition_sketches(
                          batch_df, value_col, k), k).collect()]
        if not batch_rows:
            return
        sk = MRLSketch(k)
        sk.merge_rows(load_prior())
        sk.merge_rows(batch_rows)
        publish([(int(lv), float(v)) for lv, v in sk.rows()], epoch_id)

    writer = stream_df.writeStream.foreachBatch(fold_batch) \
        .option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_kmv_state(spark: SparkSession, state_path: str):
    """Current accreted KMV sketch rows (None before the first batch)."""
    if not os.path.exists(state_path):
        return None
    return spark.read.parquet(state_path)


def stream_kmv_sketch(stream_df: DataFrame, key_col: str,
                      state_path: str, checkpoint: str,
                      k: int = 256, available_now: bool = True):
    """Streaming twin of operators/sketch.build_kmv: a bottom-k distinct
    sketch accreting across micro-batches — running distinct-count
    (and, against another sketch, set-overlap) estimates of an
    unbounded stream in O(k) state forever.

    Per batch (foreachBatch): the batch's keys build a bottom-k through
    the normal DISTRIBUTED path (distinct + window — the batch is never
    collected raw; at most k hash rows come back), those rows fold into
    the persisted sketch by keeping the k smallest of the union
    (merge == rebuild is KMV's defining property, so the stream state
    equals the batch sketch of everything ever seen — pinned in tests),
    and the state publishes via write-temp + atomic swap, epoch-tagged
    so a crash/replay never re-folds a batch.

    Driver-side economy: the state is at most k integers, so the fold
    keeps a driver cache of it (disk is read only on the first batch /
    after a restart) and publishes with a direct pyarrow parquet FILE
    write + os.replace — the per-batch cost is ONE Spark job (the
    distributed bottom-k), not four.  A legacy directory-layout state
    (pre-r10 Spark-written) is read fine and swapped to the file layout
    on the next publish."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..operators.sketch import build_kmv

    spark = stream_df.sparkSession
    tag_path = state_path + "_epoch.json"
    ckpt_key = os.path.abspath(checkpoint)
    cache: dict = {"hashes": None}   # driver twin of the <=k-row state

    def state_tag() -> int:
        # match on (checkpoint, epoch) — epoch ids restart at 0 under a
        # fresh checkpoint, so a bare-number guard would silently drop
        # new batches (see stream_quantile_sketch for the full note)
        try:
            with open(tag_path) as fh:
                tag = json.load(fh)
            if tag.get("checkpoint") != ckpt_key:
                return -1                # new checkpoint: tag reset
            return int(tag["epoch"])
        except (OSError, ValueError, KeyError):
            return -1

    def load_prior() -> list:
        if cache["hashes"] is None:
            prior = read_kmv_state(spark, state_path)
            cache["hashes"] = ([] if prior is None
                               else sorted(int(r.h) for r in prior.collect()))
        return cache["hashes"]

    def publish(keep: list, epoch_id: int) -> None:
        tbl = pa.table({
            "pos": pa.array(range(1, len(keep) + 1), pa.int32()),
            "h": pa.array(keep, pa.int64())})
        tmp = state_path + ".tmp"
        pq.write_table(tbl, tmp)
        if os.path.isdir(state_path):    # legacy dir layout: swap out
            old = state_path + ".old"
            shutil.rmtree(old, ignore_errors=True)
            os.rename(state_path, old)
            os.rename(tmp, state_path)
            shutil.rmtree(old, ignore_errors=True)
        else:
            os.replace(tmp, state_path)  # atomic file swap
        ttmp = tag_path + ".tmp"
        with open(ttmp, "w") as fh:
            json.dump({"epoch": int(epoch_id), "checkpoint": ckpt_key}, fh)
        os.rename(ttmp, tag_path)
        cache["hashes"] = keep

    def fold_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if epoch_id <= state_tag():
            return
        batch_hashes = [int(r.h) for r in
                        build_kmv(batch_df, key_col, k=k).collect()]
        if not batch_hashes:
            return
        merged = set(batch_hashes) | set(load_prior())
        keep = sorted(merged)[:k]
        publish(keep, epoch_id)

    writer = stream_df.writeStream.foreachBatch(fold_batch) \
        .option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
