"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Each query is forced through full execution with the noop sink (count()
alone would let Catalyst prune the expensive columns).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "within_distance", "knn", "bbox_window", "spatial_join", "spatial_join_agg",
    "distance_join", "st_area_rects", "extract_points", "orthodromic_length",
    "zorder_keys", "tpch_q1", "revenue_by_nation", "dedup_exact",
    "minhash_pairs", "simhash_pairs", "quality_scores", "lang_id",
    "knn_cosine", "events_daily",
    # dedup/text axis heavies — previously correctness-gated only; a
    # regression here (e.g. the r4 ngram O(L²) tokenizer) now fails loudly
    "ngram_jaccard", "dedup_clusters", "contamination", "winnowing",
    "tf_idf",
    # r6: the remaining heavies (VERDICT r5 ask #6) — every substantial
    # pipeline operator now has a ratcheted budget
    "semantic_dedup", "paragraph_dedup", "pack_sequences",
    "knn_join", "asof_join", "range_join", "ivf_knn",
    # r6 new operators
    "lm_perplexity", "doc_chunks", "tile_counts", "dsir_weights",
    "polygon_join", "corpus_stats", "shuffle_order",
    "density_islands", "dedup_against", "line_dedup_doc",
    "duplicate_spans", "scrub_spans", "funnel", "retention",
    "azimuth_project", "funnel_timings",
    # r7: the two last never-benched operators (driver-gated this round)
    # plus the new sketch family
    "bpe_apply", "pipeline_e2e", "bloom_dedup", "cms_hitters",
    "hll_registers",
    # r8: ECQL tier 2, CRS reprojection, incremental dedup_against
    "cql2", "st_transform_merc", "dedup_against_inc",
    # r9 (VERDICT r8 ask #9): the remaining r8 gates enter the bench so
    # every registry family has a ratcheted budget (codec/source/sink
    # fixtures measure the real decoders, not table scans)...
    "media_gif", "wkt_export", "shapefile_source", "osm_source",
    "render_sink", "audio_features", "mp4_meta", "knn_cosine_q8",
    "datastore_gjl", "filter_equal", "covered_env",
    # ...plus the eight r9 newcomers
    "intersect_all", "isvalid_isempty", "equal_env", "results_layer",
    "datastore_write", "st_transform_utm", "media_mjpeg",
    "density_greedy",
    # r9 late additions: the conic CRS tier, codec-config metadata,
    # embedding k-means, PageRank
    "st_transform_lcc", "mp4_codec_meta", "kmeans_embed", "pagerank",
    "semdedup", "st_transform_laea",
    # r9 sixth wave: perceptual image hashing + banded Hamming near-dup
    "image_hashes", "image_dedup",
    # r9 seventh wave: GeoParquet 1.0 interop sink/source
    "geoparquet_roundtrip",
    # r9 eighth wave: deterministic quantile sketch + weighted sampling
    "quantile_sketch", "weighted_sample",
    # r9 tenth wave: real avc1 decode via the H.264 I_PCM route
    "media_avc_ipcm",
    # r9 eleventh wave: degree-oriented triangle counting
    "triangle_counts",
    # r9 twelfth wave: product-quantization ANN (ADC scan + rescore)
    "pq_knn",
    # r9 thirteenth wave: OSM PBF source (multi-blob distributed decode)
    "osm_pbf_source",
    # r9 fourteenth wave: ST_Subdivide (convex S-H fast path)
    "st_subdivide",
    # r9 fifteenth wave: PCA projection (Gram partials + power iteration)
    "pca_project",
    # r9 sixteenth wave: real area-average image resize
    "media_resize",
    # r9 seventeenth wave: per-group HLL registers
    "hll_by_group",
    # r9 eighteenth wave: generic transverse-Mercator frames
    "st_transform_tm",
    # r9 nineteenth wave: image near-dup groups (pairs -> CC)
    "image_dedup_groups",
    # r9 twentieth wave: inverted-index retrieval, content-defined
    # chunking, DBSCAN
    "bm25_retrieval", "cdc_chunks", "dbscan_cluster",
    # r9 twenty-first wave: hexagonal density binning
    "hex_density",
    # r9 twenty-second wave: interpolated Kneser-Ney LM scoring
    "kn_perplexity",
    # r9 twenty-third wave: KMV (theta) distinct sketch + set ops
    "kmv_distinct",
    # r9 twenty-fourth wave: materialized mixture epoch
    "mixture_epoch",
    # r9 twenty-fifth wave: trajectory stay-point detection
    "stay_points",
    # r9 twenty-sixth wave: strongly connected components
    "scc_components",
    # r9 twenty-seventh wave: Luhn-validated credit-card scrub
    "card_scrub",
    # r9 twenty-eighth wave: CCNet head/middle/tail perplexity split
    "ppl_buckets",
    # r9 twenty-ninth wave: boolean retrieval, KMV intersection,
    # shared-CDC-chunk detection
    "boolean_retrieval", "kmv_intersect", "cdc_shared",
    # r9 thirtieth wave: CAVLC-entropy-coded avc1 decode
    "media_avc_cavlc",
    # r9 thirty-first wave: retrieval-based decontamination triage
    "decontam_retrieval",
    # r10: degenerate-overlay semantics fixture (VERDICT r9 ask #2)
    "overlay_degenerate",
    # r10: streaming KMV twin under the hard gate (VERDICT r9 ask #4) —
    # a real 5-micro-batch Structured Streaming run per invocation
    "kmv_stream",
    # r10: IVF recall contract on clustered embeddings (VERDICT r9 #5)
    "ivf_recall",
    # r10: AAC-LC mp4a decode through the real IMDCT filterbank (#6)
    "media_aac",
    # r10: ellipsoidal geodesic path length, WGS84 Vincenty (#7)
    "st_length_geodesic",
    # r10: semi-structured JSON props extraction + typed aggregates
    "json_props",
    # r10: Albers Equal-Area Conic (EPSG:5070 + generic aea: frames)
    "st_transform_aea",
    # r10: stream-stream interval join (two real stateful micro-batches)
    "interval_join_stream",
    # r10: H.264 all-skip P-frame inter tier (static-repeat decode)
    "media_avc_pskip",
    # r11: guarded point-pair Vincenty distance (VERDICT r10 ask #8)
    "st_distance_geodesic",
    # r11: OSGB36 datum-shifted national grid — Helmert + TM-on-Airy (#4)
    "st_transform_osgb",
    # r11: streaming funnel twin — 4 real micro-batches per run (#7)
    "funnel_stream",
    # r11: AAC Huffman-layer decode, engine codebook profile (#2)
    "media_aac_huff",
    # r11: motion-compensated H.264 P slices, integer-pel MC (#3)
    "media_avc_mc",
    # r11: fractional-sample MC — all 16 Table 8-12 quarter-pel
    # positions, tap-math-verifying oracle
    "media_avc_qpel",
    # r11: LEFT-OUTER stream-stream interval join (3 stateful
    # micro-batches incl. the sentinel flush per invocation)
    "interval_join_outer",
    # r11: RD New datum-shifted oblique stereographic (EPSG 9809
    # double projection — Helmert + conformal sphere on Bessel)
    "st_transform_rd",
    # r11: H.264 inter residuals (CAVLC cbp=15 + MC + residual add)
    "media_avc_pres",
    # r11: streaming exact-dedup twin (4 real micro-batches,
    # cross-batch dropDuplicatesWithinWatermark state)
    "dedup_stream",
    # r11: streaming retention twin (4 real micro-batches,
    # applyInPandasWithState cohort+bitmap state)
    "retention_stream",
    # r11: Swiss LV95 datum-shifted oblique cylindrical (EPSG 9814
    # Rosenmund double projection — conformal sphere + rotation)
    "st_transform_lv95",
    # r11: H.264 inter CHROMA residuals (ChromaDCLevel nC==-1 route)
    "media_avc_cres",
    # r11: stereo AAC CPE (common window, per-channel Huffman streams)
    "media_aac_cpe",
    # r11: Intra_16x16 V/H/DC prediction grid (non-DC intra modes)
    "media_avc_ipred",
    # r11: colored intra — chroma prediction + DC residuals, no I_PCM
    "media_avc_icres",
    # r11: URL canonicalization + URL-level dedup (pure Column)
    "url_dedup",
    # r11: Pulkovo 1942 Gauss-Krüger zone family (4th datum family)
    "st_transform_gk",
    # r11: EIGHT_SHORT AAC frames (grouped short blocks + transitions)
    "media_aac_short",
    # r11: streaming MRL quantile twin (4 micro-batch folds, lossless)
    "quantile_stream",
    # r12: data-driven EPSG registry — 7 table-driven codes through 4
    # kernel families (tm/lcc/aea/utm), 7 customer-point blocks
    "st_transform_registry",
    # r12: multimodal end-to-end pipeline — decode → resize → dHash →
    # banded pairs → CC groups → canonical keep (64-image fixture)
    "pipeline_mm_e2e",
    # r12: ECQL tier 4 — arithmetic + geometry functions over part rects
    "cql3",
    # r12: streaming windowed tile counts — 4 real micro-batches
    "tile_counts_stream",
    # r12: datum-shifted LCC (Belgian Lambert 72 — the lccd: tier)
    "st_transform_lccd",
    # r12: Mapbox Vector Tile sink (encode + independent decode per tile)
    "mvt_export",
    # r12: polygon MVT tiling (overlay clip per tile + pack + decode)
    "mvt_polygons",
    # r13: FlatGeobuf sink/source round-trip (from-scratch FlatBuffers
    # wire layer; export one .fgb, distributed per-file re-read)
    "flatgeobuf_roundtrip",
    # r13: LINESTRING MVT tiling (clip_line per tile + pack + decode)
    "mvt_lines",
    # r13: ECQL tier 5 string-function family (Java-semantics twins)
    "cql4",
    # r14: Delta Lake sink/source round-trip (two commits, independent
    # log replay, time travel + stats-pruned plan as literal columns)
    "delta_roundtrip",
    # r14: within_distance(cql=) — composed window + property-bound
    # manifest pruning through the real layer write/search path
    "within_cql",
    # r15: partitioned Delta overwrite with hive-escaped partition
    # values + vacuum (the remove-path encoding fix under the gate)
    "delta_overwrite",
    # r15: Delta OPTIMIZE — z-order stats pruning + per-partition
    # compaction, content bit-equal through both rewrites
    "delta_optimize",
    # r15: Iceberg v2 sink/source round-trip (from-scratch Avro
    # metadata tree; two snapshots, independent replay, time travel
    # + bounds-pruned plan as literal columns)
    "iceberg_roundtrip",
    # r15: identity-partitioned Iceberg (hive layout + typed manifest
    # partition values + basePath restore + partition-exact pruning)
    "iceberg_partitioned",
]

# Per-query budgets at sf0.1 / local[32]: monotone ratchet —
# min(previous budget, ~2.2x the recorded best under the min-of-2
# measurement) — so a regression like r2's (per-query re-registration
# overhead) or r3's (lang_id codegen blowup) fails loudly instead of
# drifting; the 2.2x slack absorbs the measured host-noise band.
# r7 (VERDICT r6 ask #7): every pin re-derived as min(old pin,
# 2.2 x this round's best-of-two full runs), squeezing compounded
# slack back out (27 pins tightened, e.g. line_dedup_doc 4.7->2.4,
# density_islands 4.6->2.9, scrub_spans 6.2->5.1) while every pin
# stays <= 2.5x a fresh measurement by construction (pins the fresh
# 2.2x would RAISE keep their old, tighter value — the ratchet never
# loosens).  Reported in the JSON as
# budget_violations; exits nonzero only when SPARK_GRAFT_STRICT_BENCH=1
# (machine noise must not trip the driver's rc gate).
# r9 (VERDICT r8 ask #9): every pre-existing pin re-derived as
# min(old pin, 2.2 x the DRIVER-measured BENCH_r08 number) — 34 pins
# tightened (e.g. pipeline_e2e 14.0->10.7 off driver 4.84,
# semantic_dedup 8.0->5.9 off 2.68, dedup_against_inc 2.5->1.6 off
# 0.744), and by construction no pin now exceeds 2.2x a driver
# measurement (the r8 max pin/measured 3.39 is retired).  The 19
# queries new to the bench this round (the 11 remaining r8 gates + the
# 8 r9 newcomers) are pinned at 2.2x this round's local best-of-two at
# sf0.1, to be re-ratcheted off BENCH_r09's driver numbers next round.
# r10: re-ratcheted again off this round's clean final full run
# (25 pins tightened, max pin/measured 2.41; zero violations); the six
# r10 gates (overlay_degenerate, kmv_stream, ivf_recall, media_aac,
# st_length_geodesic, json_props) pinned at 2.2x the same run.
# r14: 26 pins re-derived as min(old, max(2.2 x the DRIVER-measured
# BENCH_r13 number, 0.3)) — e.g. st_transform_registry 8.1->4.1 off
# driver 1.85 (its r13 pin was set before the widened gate settled),
# mvt_export 2.9->2.0, image_dedup 3.8->3.2, cql4 0.8->0.3 (floor).
# delta_roundtrip (new r14) pinned at 2.2x warm local best.
BUDGET_SF01 = {
    "within_distance": 0.4, "knn": 0.4, "bbox_window": 0.3,
    "spatial_join": 1.0, "spatial_join_agg": 1.4, "distance_join": 1.4,
    "st_area_rects": 1.5, "extract_points": 0.9, "orthodromic_length": 0.8,
    "zorder_keys": 0.5, "tpch_q1": 0.6, "revenue_by_nation": 1.7,
    "dedup_exact": 0.4, "minhash_pairs": 2.7, "simhash_pairs": 3.4,
    "quality_scores": 0.8, "lang_id": 0.6, "knn_cosine": 0.3,
    "events_daily": 0.4, "ngram_jaccard": 5.5, "dedup_clusters": 6.6,
    "contamination": 3.5, "winnowing": 1.4, "tf_idf": 1.6,
    "semantic_dedup": 5.9, "paragraph_dedup": 1.0, "pack_sequences": 0.3,
    "knn_join": 4.8, "asof_join": 0.7, "range_join": 0.5,
    "ivf_knn": 0.9, "lm_perplexity": 2.0, "doc_chunks": 0.5,
    "tile_counts": 0.4, "dsir_weights": 2.3, "polygon_join": 3.2,
    "corpus_stats": 0.5, "shuffle_order": 0.3, "density_islands": 2.4,
    "dedup_against": 1.3, "line_dedup_doc": 2.0, "duplicate_spans": 3.0,
    "scrub_spans": 4.3, "funnel": 0.5, "retention": 0.5,
    "azimuth_project": 0.3, "funnel_timings": 0.5, "bpe_apply": 0.9,
    "pipeline_e2e": 10.7, "bloom_dedup": 0.8, "cms_hitters": 2.2,
    "hll_registers": 1.1, "cql2": 1.5, "st_transform_merc": 0.8,
    "dedup_against_inc": 1.6,
    # 19 bench newcomers (r9): 2.2x this round's local best-of-two.
    # filter_equal / isvalid_isempty are capped 4000-row semantics
    # fixtures (per-row WKT build + kernel calls), measured post-cap.
    "media_gif": 1.1, "wkt_export": 0.5, "shapefile_source": 0.6,
    "osm_source": 2.1, "render_sink": 10.2, "audio_features": 1.0,
    "mp4_meta": 0.9, "knn_cosine_q8": 1.0, "datastore_gjl": 1.6,
    "filter_equal": 4.0, "covered_env": 0.3, "intersect_all": 1.2,
    "isvalid_isempty": 2.7, "equal_env": 0.4, "results_layer": 6.9,
    "datastore_write": 2.8, "st_transform_utm": 0.9, "media_mjpeg": 2,
    "density_greedy": 3.2,
    "st_transform_lcc": 0.8, "mp4_codec_meta": 0.8,
    "kmeans_embed": 3.3, "pagerank": 10.3, "semdedup": 3.8,
    "st_transform_laea": 0.7,
    # r9 sixth wave: 2.2x local best-of-two (fixture-decode bound)
    "image_hashes": 1, "image_dedup": 3.2,
    # r9 seventh wave: 2.2x local best-of-two (write+footer+scan bound)
    "geoparquet_roundtrip": 1.4,
    # r9 eighth wave: 2.2x local best-of-two
    "quantile_sketch": 1.3, "weighted_sample": 0.3,
    # r9 tenth wave: 2.2x local best-of-two (fixture encode+decode bound)
    "media_avc_ipcm": 2,
    # r9 eleventh wave: 2.2x local best-of-two
    "triangle_counts": 2.8,
    # r9 twelfth wave: 2.2x local best-of-two
    "pq_knn": 1.1,
    # r9 thirteenth wave: 2.2x local best-of-two
    "osm_pbf_source": 2.5,
    # r9 fourteenth wave: 2.2x local best-of-two
    "st_subdivide": 1.4,
    # r9 fifteenth wave: 2.2x local best-of-two
    "pca_project": 1.3,
    # r9 sixteenth wave: 2.2x local best-of-two
    "media_resize": 2.2,
    # r9 seventeenth wave: 2.2x local best-of-two
    "hll_by_group": 1.2,
    # r9 eighteenth wave: 2.2x local best-of-two
    "st_transform_tm": 0.6,
    # r9 nineteenth wave: 2.2x local best-of-two (measured under a
    # concurrent full sweep; re-pinned from the clean final run below)
    "image_dedup_groups": 7.0,
    # r9 twentieth wave: 2.2x local best-of-two (dbscan_cluster is the
    # constant 300-point semantics fixture — stage-latency bound, like
    # density_greedy)
    "bm25_retrieval": 1.7, "cdc_chunks": 0.7, "dbscan_cluster": 2.7,
    # r9 twenty-first wave: 2.2x local best-of-two
    "hex_density": 0.3,
    # r9 twenty-second wave: 2.2x local best-of-two
    "kn_perplexity": 2.5,
    # r9 twenty-third wave: 2.2x local best-of-two
    "kmv_distinct": 1.3,
    # r9 twenty-fourth wave: 2.2x local best-of-two
    "mixture_epoch": 0.3,
    # r9 twenty-fifth wave: 2.2x local best-of-two
    "stay_points": 0.9,
    # r9 twenty-sixth wave: 2.2x local best-of-two
    "scc_components": 0.9,
    # r9 twenty-seventh wave: 2.2x local best-of-two (measured under a
    # concurrent full bench; re-check on the clean final run)
    "card_scrub": 0.9,
    # r9 twenty-eighth wave: 2.2x local best-of-two
    "ppl_buckets": 3.5,
    # r9 twenty-ninth wave: 2.2x local best-of-two
    "boolean_retrieval": 1.0, "kmv_intersect": 1.2, "cdc_shared": 0.8,
    # r9 thirtieth wave: 2.2x local best-of-two
    "media_avc_cavlc": 2,
    # r9 thirty-first wave: 2.2x local best-of-two
    "decontam_retrieval": 1.8,
    # r10: 2.2x local best-of-two (constant 400-pair kernel-semantics
    # fixture — 3600 general-overlay calls across 32 partitions)
    "overlay_degenerate": 1.7,
    # r10: 2.2x local best-of-two (capped 200-doc fixture; cost = the 5
    # micro-batch folds + slice writes, not scan throughput)
    "kmv_stream": 5.7,
    # r10: 2.2x local best-of-two (2000-vector recall fixture: one
    # assign + 4 top-k scans)
    "ivf_recall": 1.9,
    # r10: 2.2x local best-of-two (48-container fixture: mux + sample
    # table + AAC syntax + 1024x2048 IMDCT per frame)
    "media_aac": 2.7,
    # r10: 2.2x local best-of-two (1000 order paths, vectorized
    # 8-step Vincenty per segment)
    "st_length_geodesic": 1.3,
    # r10: 2.2x local best-of-two (codegen JSON path + one keyed agg)
    "json_props": 0.8,
    # r10: 2.2x local best-of-two (per-point numpy kernel, the
    # st_transform_lcc plan class)
    "st_transform_aea": 0.8,
    # r10: 2.2x local best-of-two (capped fixture; cost = the stateful
    # stream-stream join machinery across two micro-batches)
    "interval_join_stream": 8.7,
    # r10: 2.2x local best-of-two (24-container fixture: I_PCM IDR +
    # skip-chain decode)
    "media_avc_pskip": 1.4,
    # r11: 2.2x local best-of-two (1500-pair fixture; vectorized
    # 8-step Vincenty through the guarded point-pair UDF)
    "st_distance_geodesic": 1.1,
    # r11: 2.2x local best-of-two (UK-box customers through the full
    # ECEF→Helmert→Bowring→Krüger chain, uniform-batch fast path)
    "st_transform_osgb": 0.9,
    # r11: 2.2x local best-of-two (capped 2000-event fixture; cost =
    # 4 stateful micro-batch folds, not scan throughput)
    "funnel_stream": 8.9,
    # r11: 2.2x local best-of-two (16-container fixture: Huffman
    # decode of 4 live bands/frame incl. escapes + IMDCT synthesis)
    "media_aac_huff": 1.8,
    # r11: 2.2x local best-of-two (24-container fixture: I_PCM IDR +
    # two MC P frames per media)
    "media_avc_mc": 1.7,
    # r11: 2.2x local best-of-two (16-container fixture: one
    # quarter-pel-interpolated P frame per media, all 16 positions)
    "media_avc_qpel": 1.5,
    # r11: 2.2x local best-of-two (capped fixture; cost = 3 stateful
    # outer-join micro-batches + the no-data watermark flush)
    "interval_join_outer": 15.4,
    # r11: 2.2x local best-of-two (NL-box customers through the full
    # ECEF→Helmert→Bowring→conformal-sphere-stereographic chain,
    # uniform-batch fast path; measured under a concurrent sweep)
    "st_transform_rd": 0.9,
    # r11: 2.2x local best-of-two (24-container fixture: I_PCM IDR +
    # an MC+residual P + a residual-accumulating P per media)
    "media_avc_pres": 2.1,
    # r11: 2.2x local best-of-two (capped 2000-doc fixture; cost = 4
    # stateful micro-batch folds + the fixture write, not scan volume)
    "dedup_stream": 6.6,
    # r11: 2.2x local best-of-two (capped 2000-event fixture; 4
    # applyInPandasWithState micro-batches)
    "retention_stream": 9.4,
    # r11: 2.2x local best-of-two (Swiss-box customers through the
    # ECEF→Helmert→Bowring→conformal-sphere→rotation→Mercator chain)
    "st_transform_lv95": 0.9,
    # r11: 2.2x local best-of-two (24-container fixture: gray IDR +
    # two chroma-shifting residual P frames per media)
    "media_avc_cres": 2.0,
    # r11: 2.2x local best-of-two (16-container stereo fixture: CPE
    # Huffman decode x2 channels + two per-channel filterbanks)
    "media_aac_cpe": 2.2,
    # r11: 2.2x local best-of-two (24-container fixture: driver-side
    # encode of a V/H/DC prediction grid + one I-slice decode each)
    "media_avc_ipred": 1.5,
    # r11: 2.2x local best-of-two (24-container fixture: colored
    # intra — luma + chroma prediction chains per I-slice)
    "media_avc_icres": 1.4,
    # r11: 2.2x local best-of-two (capped 4000-doc fixture; one
    # regex-normalize map pass + one keyed agg)
    "url_dedup": 0.6,
    # r11: 2.2x local best-of-two (zone-7-box customers through the
    # datum-tier chain — same shape as st_transform_osgb)
    "st_transform_gk": 1.6,
    # r11: 2.2x local best-of-two (16-container fixture: a full
    # long/start/short/stop chain per media, 8x256 short filterbank)
    "media_aac_short": 1.8,
    # r11: 2.2x local best-of-two (capped fixture; 4 stateful
    # micro-batch sketch folds + the fixture write)
    "quantile_stream": 7.2,
    # r13 re-derivation: the gate WIDENED 7 -> 20 registry codes
    # across 6 kernel families (VERDICT r12 ask #2), so the pin is
    # re-measured, not ratcheted: 2.2x local best-of-three (3.69s)
    "st_transform_registry": 4.1,
    # r12: 2.2x local best-of-two (64-image fixture: decode + resize +
    # rehash + banded pairs + pointer-doubled CC per invocation)
    "pipeline_mm_e2e": 12.1,
    # r12: 2.2x local best-of-two (part rects, one Column filter pass)
    "cql3": 1.8,
    # r12: 2.2x local best-of-two (capped fixture; 4 real watermarked
    # micro-batches through the memory sink per invocation)
    "tile_counts_stream": 8.0,
    # r12: 2.2x local best-of-two (Belgian-domain customers through the
    # Helmert + conic chain — same shape as st_transform_osgb)
    "st_transform_lccd": 1.6,
    # r12: 2.2x local best-of-two (64-tile collect + per-tile protobuf
    # pack + independent decode per invocation)
    "mvt_export": 1.9,
    # r12: 2.2x local best-of-two (bbox-cover explode + per-tile exact
    # overlay clip of 20k part rects + pack + independent decode)
    "mvt_polygons": 9.2,
    # r13: 2.2x local best-of-three (206-feature export + per-file
    # distributed re-read; warm best 1.03s)
    "flatgeobuf_roundtrip": 2,
    # r13: 2.2x local best-of-three (20k segments x covered tiles
    # through clip_line + pack + independent decode; warm best 4.71s)
    "mvt_lines": 9.2,
    # r13: 2.2x local best-of-three (pure codegen string filter +
    # projection; warm best 0.33s)
    "cql4": 0.3,
    # r14 newcomers: 2.2x warm best-of-3 at sf0.1 (1.06s / 1.68s)
    "delta_roundtrip": 1.1,
    # r15: 14 pins re-ratcheted off DRIVER-measured BENCH_r14 as
    # min(old, 2.2x driver) — e.g. retention_stream 16.0->9.4,
    # dedup_stream 12.5->6.6, funnel_stream 14.0->8.9,
    # delta_roundtrip 2.4->1.1.  The r15 fixture trims
    # (arrow_local_df + persisted preps) should land WELL under these;
    # re-ratchet again off BENCH_r15.
    # r15 newcomers: 2.2x warm local best-of-2 at sf0.1 (1.21 / 3.0),
    # to be re-ratcheted off BENCH_r15's driver numbers next round
    "delta_overwrite": 2.7, "delta_optimize": 6.6,
    "within_cql": 3.3,
    # (EVERY pin re-ratcheted as min(old, 2.2x the clean final full
    # run's min-of-2) — landing-time measurements taken under
    # concurrent sweeps carried up to 9x slack; the ratchet never
    # loosens, 0.2s floor for sub-100ms queries)
}

# r10 (VERDICT r9 ask #9): the first-run sum is now BUDGETED, not just
# reported — cold time is dominated by whole-stage-codegen compilation
# and session warm-up, so it drifts with the QUERY COUNT, not engine
# throughput; the pin keeps driver-harness drift visible (the r8→r9
# 62.9→163.9 s rise was 27 new benched queries).  Same 1.4x headroom
# model as the per-query gate.
COLD_BUDGET_SF01 = 230.0


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    import __spark_entry__ as entrymod
    from spatial_spark.session import get_spark

    spark = get_spark("bench")
    qs = entrymod.queries()

    # warm up JVM + python workers + view registration outside the timings
    entrymod._setup(spark, sf_dir)
    spark.sql("SELECT count(*) FROM lineitem").collect()
    spark.sql("SELECT st_area(st_geomfromtext('POINT (0 0)'))").collect()

    # Each query runs TWICE and the min is reported: the first run pays
    # one-time whole-stage-codegen compilation (a constant, not engine
    # throughput) and this host shows ~1.5x ambient noise swings between
    # identical runs an hour apart (load avg ~2.8 with zero local
    # processes — noisy-neighbor contention); min-of-2 measures the
    # engine, not the weather.  The first-run sum is still reported as
    # `cold_sec` for transparency.
    timings = {}
    cold = 0.0
    t_all = time.time()
    for name in HEADLINE:
        fn = qs.get(name)
        if fn is None:
            continue
        best = None
        try:
            for rep in range(2):
                t0 = time.time()
                df = fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                dt = time.time() - t0
                if rep == 0:
                    cold += dt
                best = dt if best is None else min(best, dt)
            timings[name] = round(best, 3)
        except Exception as e:  # noqa: BLE001
            timings[name] = -1.0
            print(f"# {name} failed: {str(e)[:200]}", file=sys.stderr)
    total = round(sum(t for t in timings.values() if t > 0), 3)
    wall = round(time.time() - t_all, 3)
    violations = {}
    # a crashed query (-1.0) is always a violation (ADVICE r5: it used to
    # be excluded from the total AND the budget check, so a crash made the
    # headline number look faster and strict mode still exited 0)
    for q, t in timings.items():
        if t < 0:
            violations[q] = {"sec": t, "budget": BUDGET_SF01.get(q, 0.0),
                             "error": True}
    # Noise model: repeated r6 measurements show ambient spikes up to
    # ~2.5-3x with NO code change on the offending path, reverting on
    # re-run (bbox_window 0.302 vs a 0.30 pin, spatial_join 1.55 vs 0.44
    # best, dsir_weights 3.87 vs 1.6 typical).  Every real regression
    # this gate has caught was >=4x (lang_id 0.5->6.8s, ngram 4->18s),
    # so the effective budget keeps 1.4x headroom over the pin plus a
    # 1.5s floor — still far under the regression class while not
    # flagging the weather.  Raw pins stay in BUDGET_SF01 as the
    # drift record.
    def _eff(b):
        return max(b * 1.4, 1.5)
    if sf == 0.1:
        violations.update({q: {"sec": t, "budget": _eff(BUDGET_SF01[q])}
                           for q, t in timings.items()
                           if q in BUDGET_SF01 and t > _eff(BUDGET_SF01[q])})
        if cold > COLD_BUDGET_SF01 * 1.4:
            violations["cold_sec"] = {"sec": round(cold, 3),
                                      "budget": COLD_BUDGET_SF01 * 1.4}
        for q, v in violations.items():
            print(f"# BUDGET EXCEEDED: {q} {v['sec']}s > {v['budget']}s",
                  file=sys.stderr)
    payload = json.dumps({
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cold_sec": round(cold, 3),
        "wall_sec": wall,
        "budget_violations": violations,
    })
    print(payload)
    # VERDICT r15 ask #2: the one-line JSON (156 queries) overflowed the
    # driver's stdout tail buffer, destroying the round-over-round record
    # (BENCH_r14 parsed: null).  ALSO write the identical JSON to a file
    # next to this script so the comparison can never be lost again.
    # Additions-only: the stdout contract above is unchanged.
    try:
        out_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "BENCH_LAST.json")
        with open(out_path, "w") as fh:
            fh.write(payload + "\n")
    except OSError as e:  # never let the record file break the bench
        print(f"# bench record write failed: {e}", file=sys.stderr)
    if violations and os.environ.get("SPARK_GRAFT_STRICT_BENCH") == "1":
        sys.exit(3)


if __name__ == "__main__":
    main()
