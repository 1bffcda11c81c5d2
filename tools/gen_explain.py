"""Regenerate the plan snapshots of EXPLAIN.md that this script builds.

Usage: python tools/gen_explain.py <sf_dir>

Each snapshot replaces the body of the EXPLAIN.md section whose ``##``
heading matches its title; the preamble and every section built elsewhere
stay as they are, and a title not yet in the file is appended.
"""
import sys, io, contextlib, re
from pathlib import Path
sys.path.insert(0, __file__.rsplit("/tools/",1)[0])
from pyspark.sql import functions as F
from dataverifyr_spark.session import build_spark
import dataverifyr_spark as dv
from dataverifyr_spark.check import compile_rule_predicate
from dataverifyr_spark.operators.similarity import brute_force_topk

spark = build_spark(master="local[8]", shuffle_partitions=8, spark_ui_enabled="false")
spark.sparkContext.setLogLevel("ERROR")
sf = sys.argv[1]
li = spark.read.parquet(f"{sf}/lineitem.parquet")
cust = spark.read.parquet(f"{sf}/customer.parquet")
ords = spark.read.parquet(f"{sf}/orders.parquet")
emb = spark.read.parquet(f"{sf}/embeddings.parquet")

def cap(df):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()

rules = dv.ruleset(
    dv.rule("l_quantity > 0 & l_quantity <= 30"),
    dv.rule("l_returnflag %in% c('A','N')"),
    dv.rule("l_extendedprice > 1000", allow_na=True),
)
preds = [compile_rule_predicate(r).column for r in rules]
aggs = [F.count(F.lit(1)).alias("tests")] + [F.sum(F.when(p,1).otherwise(0)).alias(f"p{i}") for i,p in enumerate(preds)]
sections = []
sections.append(("Fused 3-rule check (one scan, pruned ReadSchema, partial aggregation)", cap(li.agg(*aggs))))

viol = dv.filter_fails(rules, li, tag=True)
sections.append(("Tagged violations (single scan, codegen'd OR-of-fail-predicates filter, array+explode on violating rows only)", cap(viol)))

ref_vals = cust.select(F.col("c_custkey").alias("__ref_val")).distinct()
local = ords.select("o_custkey")
joined = local.join(ref_vals, local["o_custkey"]==F.col("__ref_val"), "left")
refagg = joined.agg(F.sum(F.when(F.col("__ref_val").isNotNull(),1).otherwise(0)).alias("p"))
sections.append(("Reference-rule membership count (key-only projection before join; AQE broadcast)", cap(refagg)))

qvec=[float(v) for v in emb.select("embedding").head()[0]]
sections.append(("Cosine top-k (TakeOrderedAndProject - per-partition top-k merge, no sort shuffle)", cap(brute_force_topk(emb, qvec, 10))))

# round 2: banded-LSH near-dup pairs — must be equi-joins only, no
# BroadcastNestedLoopJoin / CartesianProduct anywhere
from dataverifyr_spark.operators.similarity import embedding_near_dup_pairs
emb_d = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
pairs = embedding_near_dup_pairs(emb_d, dim=64, threshold=0.99, bits=16, bands=2, vec_col="v")
pp = cap(pairs)
assert "BroadcastNestedLoopJoin" not in pp and "CartesianProduct" not in pp
# the self-join reads the checkpointed (id, band, bucket) codes: no band
# code (posexplode over the hyperplane literals) is computed in this plan
assert "Scan ExistingRDD" in pp and "posexplode" not in pp
pp_tree = pp.split("\n\n(1)")[0] + (
    "\n\n[node details elided: both join sides scan the checkpointed (id, band, "
    "bucket) codes; asserted free of posexplode and BroadcastNestedLoopJoin/"
    "CartesianProduct]\n"
)
sections.append(("Banded-LSH embedding near-dup pairs (equi-joins only; NO nested-loop/cartesian)", pp_tree))

# round 2: audio dialect auto-fuse — 5 bytes-family rules, ONE ArrowEvalPython
from dataverifyr_spark.audio import clips_table
clips = clips_table(spark, 50)
audio_rules = dv.ruleset(
    dv.rule("audio_valid(bytes)"),
    dv.rule("audio_sr(bytes) == sr_hz"),
    dv.rule("abs(audio_dur_ms(bytes) - dur_ms) <= 2"),
    dv.rule("audio_rms(bytes) > 0.001", allow_na=True),
    dv.rule("audio_n_samples(bytes) > 0"),
)
apreds = [compile_rule_predicate(r).column for r in audio_rules]
aplan = cap(clips.agg(*[F.sum(F.when(p,1).otherwise(0)).alias(f"p{i}") for i,p in enumerate(apreds)]))
assert aplan.count("ArrowEvalPython") == 2  # tree + detail of ONE node
sections.append(("Audio dialect 5-rule fused check (ONE shared decode probe -> one ArrowEvalPython)", aplan))

# round 2: single-pass simhash (one aggregate fold, no per-bit traversals)
from dataverifyr_spark.operators.dedup import simhash
docs = spark.read.parquet(f"{sf}/documents.parquet")
sections.append(("SimHash single-pass vote fold (one projection, no shuffle)", cap(simhash(docs).select("doc_id","simhash"))))

# round 3: production-dim LSH codes switch to the broadcast-numpy Arrow UDF —
# the plane tensor must NOT appear as plan literals (bounded analysis time)
from dataverifyr_spark.operators.similarity import _lsh_codes
import time as _time
wide = emb.select("vec_id", F.transform(F.sequence(F.lit(0), F.lit(767)),
                                        lambda i: i.cast("double") / 768.0).alias("v"))
t0 = _time.perf_counter()
codes = wide.select("vec_id", _lsh_codes("v", wide, 768, 32, [42, 7961, 15880, 23799]).alias("codes"))
cplan = cap(codes)
analysis_s = _time.perf_counter() - t0
assert "ArrowEvalPython" in cplan, cplan
sections.append((
    "Production-dim LSH codes (dim=768, bits=32, bands=4): broadcast-numpy Arrow UDF, bounded plan+analysis time (literal path measured ~54s in this regime)",
    f"[plan + analysis: {analysis_s:.2f}s]\n\n{cplan}",
))

# round 3: vs-reference audio — join + ONE dual-decode ArrowEvalPython; the
# expected payload joins by clip_id (broadcast here; bucket both sides at scale)
from dataverifyr_spark.audio import audio_ruleset, expected_table, with_audio_features_vs
exp = expected_table(spark, 50)
feats = with_audio_features_vs(clips, exp, broadcast_expected=True)
vpreds = [compile_rule_predicate(r).column for r in audio_ruleset()]
vplan = cap(feats.agg(*[F.sum(F.when(p,1).otherwise(0)).alias(f"p{i}") for i,p in enumerate(vpreds)]))
assert vplan.count("ArrowEvalPython") == 2  # tree + detail of ONE node
assert "BroadcastNestedLoopJoin" not in vplan, vplan
assert "BroadcastHashJoin" in vplan, vplan
sections.append(("Vs-reference audio (broadcast clip_id join -> ONE dual-decode ArrowEvalPython -> fused agg)", vplan))

# describe_by — a declarative grouped aggregate + in-plan inline unpivot,
# with exact n_distinct/median from the value-count frame; a K-group profile
# must not plan K jobs, a driver loop or a row-replicating Expand
prof = dv.describe_by(li.select("l_returnflag", "l_quantity", "l_tax"), by="l_returnflag")
dplan = cap(prof)
assert "HashAggregate" in dplan and "Generate" in dplan, dplan
assert "Expand" not in dplan, dplan
sections.append(("describe_by per-partition profile (groupBy agg + value-count frame for exact n_distinct/median, inline unpivot in-plan — no Expand, no per-group jobs)", dplan))

# round 4: H.264 container probe — one ArrowEvalPython (header walk), fused agg
from dataverifyr_spark.operators.h264 import h264_videos_table
from dataverifyr_spark.operators.image import video_probe
h264 = h264_videos_table(spark, 50)
h264_rules = dv.ruleset(dv.rule("vid_valid"), dv.rule("vid_n_idr >= 2", allow_na=True))
hpreds = [compile_rule_predicate(r).column for r in h264_rules]
hplan = cap(video_probe(h264).agg(*[F.sum(F.when(p,1).otherwise(0)).alias(f"p{i}") for i,p in enumerate(hpreds)]))
assert hplan.count("MapInPandas") == 2  # tree + detail of ONE Arrow-batched node
sections.append(("H.264 container-probe fused check (one NAL-walk MapInPandas, zero pixel decode)", hplan))

# round 4: PQ ADC scan — m element_at lookups into ONE literal LUT, ranked by
# TakeOrderedAndProject; no vector column read, no shuffle of payloads
from dataverifyr_spark.operators.pq import pq_adc_topk, pq_encode
pq_books = [[[float((i*7+j*3+s) % 5 - 2) for s in range(8)] for i in range(16)] for j in range(8)]
pq_enc = pq_encode(emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding")), pq_books)
pq_plan = cap(pq_adc_topk(pq_enc, pq_books, [0.1]*64, k=10))
assert "TakeOrderedAndProject" in pq_plan, pq_plan
pq_tree = pq_plan.split("\n\n(1)")[0] + (
    "\n\n[node details elided: the projection inlines the 8x16 ADC lookup "
    "table and per-subspace codebook literals; asserted TakeOrderedAndProject]\n"
)
sections.append(("PQ ADC top-k (codes + literal LUT only — no vector math in the scan, per-partition top-k merge)", pq_tree))

# keyed most_frequent: stats agg + WindowGroupLimit top-k side broadcast-joined
mf = dv.describe_by(cust.select("c_mktsegment","c_nationkey"), by="c_mktsegment", approx=True, top_n=3)
mfplan = cap(mf)
assert "WindowGroupLimit" in mfplan and "Expand" not in mfplan, mfplan
sections.append(("describe_by keyed most_frequent (approx: no Expand; WindowGroupLimit pre-limits top-n before the shuffle; tiny mf side broadcast-joins)", mfplan))

# uniqueness (PK) rule: key-only projection -> two-level hash aggregate
uniq_grouped = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("__cnt"))
uplan = cap(uniq_grouped.agg(F.sum(F.when(F.col("__cnt")==1, F.col("__cnt")).otherwise(0)).alias("p")))
assert "ReadSchema: struct<l_orderkey" in uplan, uplan  # payload pruned to the key
sections.append(("Uniqueness (PK) rule (key-only ReadSchema; partial-agg groupBy count -> single-row reduce)", uplan))

# BPE token count: pure Catalyst (no Python node), whole-stage codegen
from dataverifyr_spark.operators.text import bpe_token_count
docs = spark.read.parquet(f"{sf}/documents.parquet")
bplan = cap(docs.select(bpe_token_count(F.col("text"), [("e","r"),("i","n"),("s","t")]).alias("n_bpe")))
assert "Python" not in bplan, bplan  # HOF aggregate/transform: JVM eval, outside codegen
sections.append(("BPE token count (chained literal replaces inside a JVM higher-order fold — zero Python in the row path)", bplan))

# batch IVF searcher: probe-list explode on the broadcast query side, equi-join
from dataverifyr_spark.operators.ivf import ivf_index
from dataverifyr_spark.operators.recall import ivf_topk_join
emb_d2 = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
cents = [[float((i*5+s) % 7 - 3) for s in range(64)] for i in range(8)]
queries = emb_d2.limit(3).withColumnRenamed("vec_id","query_id")
iplan = cap(ivf_topk_join(ivf_index(emb_d2, cents), cents, queries, k=5, nprobe=2))
assert "BroadcastHashJoin" in iplan and "CartesianProduct" not in iplan, iplan
itree = iplan.split("\n\n(1)")[0] + (
    "\n\n[node details elided: centroid literals inline in the probe-list "
    "array_sort; asserted BroadcastHashJoin on cluster, no cartesian]\n"
)
sections.append(("Batch IVF top-k join (probe clusters exploded on the broadcast query side; cluster equi-join, no cartesian)", itree))

# chunking: narrow projection only — no shuffle, no Python
from dataverifyr_spark.operators.chunks import chunk_documents
cplan = cap(chunk_documents(docs, chunk_tokens=8))
assert "Exchange" not in cplan and "Python" not in cplan, cplan
sections.append(("Document chunking (sequence/slice explode — scan-speed, zero shuffle, zero Python)", cplan))

# vector dialect rule inside the fused check scan: one agg, no Python
vec_pred = compile_rule_predicate(dv.rule("vec_dim(embedding) == 64 & vec_norm(embedding) > 0.001")).column
vplan2 = cap(emb.agg(F.sum(F.when(vec_pred, 1).otherwise(0))))
assert "Python" not in vplan2, vplan2
sections.append(("Vector (embedding) dialect rule in the fused agg (aggregate/exists folds — JVM-side, single scan)", vplan2))


def replace_sections(text: str, sections: list[tuple[str, str]]) -> str:
    """``text`` with the body of each ``## title`` section in ``sections``
    replaced, matched by the whole heading line, and the blank lines after
    it kept; new titles go at the end."""
    built = {f"## {title}": f"## {title}\n\n```\n{plan}\n```" for title, plan in sections}
    out = []
    for block in re.split(r"(?m)^(?=## )", text):
        heading = block.split("\n", 1)[0]
        if heading in built:
            block = built.pop(heading) + block[len(block.rstrip("\n")):]
        out.append(block)
    return "".join(out) + "".join(f"\n{b}\n" for b in built.values())


explain = Path(__file__).resolve().parents[1] / "EXPLAIN.md"
explain.write_text(replace_sections(explain.read_text(), sections))
print(f"rewrote {len(sections)} sections of {explain}")
