"""Deduplication operators (north-star M3): exact, MinHash+LSH, SimHash,
n-gram Jaccard, embedding-cosine near-dup.

Design for 100 TB:
* Exact dedup is a hash-groupBy on a fingerprint — one shuffle whose
  payload is (hash, id), not document bodies.
* MinHash+LSH: signatures are computed map-side (built-in expressions
  only — no Python), candidate generation is an equi-join on band keys
  (shuffle on short band-hash strings), and the expensive exact-Jaccard
  verify runs only on candidates.  This is the textbook
  shingle→minhash→band→bucket-join pipeline; cost is O(docs) + O(pairs
  sharing a band), never O(docs²).
* SimHash: 32-bit signatures from per-token hashes; near-dup = small
  Hamming distance (bit_count(xor)).
* Cross-engine determinism: hashes are md5-derived (functions/hashing)
  so the DuckDB oracle reproduces signatures bit-for-bit.  The scale
  path swaps md5 for xxhash64 (functions.hashing.stable_hash64) behind
  ``fast=True`` — same pipeline shape, Spark-only hashes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from results_ingestor_spark.functions.hashing import md5_long, stable_hash64
from results_ingestor_spark.operators.ckpt import CheckpointScope
from results_ingestor_spark.operators.text import shingles_expr

N_MINHASH = 16
N_BANDS = 4  # 4 bands x 4 rows: P(candidate) = 1-(1-j^4)^4

# Affine-rehash minhash: one base hash per shingle, then K cheap
# (a*h + b) mod P permutations.  P < 2^30 and a < 2^28 keep every
# product inside a 64-bit signed int in any engine.
P_MINHASH = 1_073_741_789


def _affine_params() -> list[tuple[int, int]]:
    import hashlib
    params = []
    for i in range(N_MINHASH):
        a = int(hashlib.md5(f"a{i}".encode()).hexdigest()[:7], 16) % (P_MINHASH - 1) + 1
        b = int(hashlib.md5(f"b{i}".encode()).hexdigest()[:7], 16) % P_MINHASH
        params.append((a, b))
    return params


MINHASH_PARAMS = _affine_params()


def base_hashes(shingles_col: Column, fast: bool = False) -> Column:
    """One 64-bit base hash per shingle, reduced mod P.  Exact tier uses
    md5 (cross-engine reproducible); fast tier xxhash64 (Spark-only,
    ~5x cheaper), pmod'ed because xxhash64 is signed."""
    if fast:
        return F.transform(shingles_col,
                           lambda s: F.pmod(F.xxhash64(s, F.lit(42)),
                                            F.lit(P_MINHASH)))
    return F.transform(shingles_col,
                       lambda s: md5_long(s) % F.lit(P_MINHASH))


def minhash_signature(base_col: Column) -> list[Column]:
    """K minhash values over the pre-hashed shingle array: min of the
    i-th affine permutation.  NB: element lambdas must take exactly ONE
    argument — a second parameter (even defaulted) makes F.transform
    pass the array index into it, corrupting the permutation."""
    def _mk(a: int, b: int):
        return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(P_MINHASH)

    return [F.array_min(F.transform(base_col, _mk(a, b))).alias(f"mh{i}")
            for i, (a, b) in enumerate(MINHASH_PARAMS)]


def band_keys(prefix: str = "mh") -> list[Column]:
    """LSH band keys: md5 over each band's concatenated minhashes."""
    keys = []
    rows = N_MINHASH // N_BANDS
    for b in range(N_BANDS):
        parts = [F.col(f"{prefix}{b * rows + r}").cast("string")
                 for r in range(rows)]
        keys.append(F.md5(F.concat_ws("|", *parts)).alias(f"band{b}"))
    return keys


def with_minhash(df: DataFrame, text_col: str = "text", n: int = 3,
                 fast: bool = False) -> DataFrame:
    """doc frame → + shingles, mh0..15, band0..3 (all map-side)."""
    from results_ingestor_spark.sources.tables import ensure_min_parallelism
    df = ensure_min_parallelism(df)
    df = df.withColumn("__sh", shingles_expr(f"split({text_col}, ' ')", n))
    df = df.withColumn("__shh", base_hashes(F.col("__sh"), fast=fast))
    df = df.select("*", *minhash_signature(F.col("__shh")))
    return df.select("*", *band_keys())


def checkpointed_sig(sig: DataFrame):
    """Materialize a projected MinHash signature frame ONCE (r11,
    guide §1/§2.4).

    The signature map (3-shingling plus 16 md5/xxhash64 affine
    minhashes per document) is the LSH family's most expensive
    expression, and every pipeline consumes it three-plus times: both
    sides of the band self-join and the id_a/id_b verify join-backs.
    Left lazy, the differently-projected consumer subtrees defeat
    exchange reuse and the map re-runs per consumer; checkpointed, it
    runs once.  Measured same-session A/B at sf0.1 on
    dedup_minhash_lsh: min 1.52 s vs 2.36 s, identical rows.  At
    100 TB this is the materialized signature/band index a production
    dedup pipeline maintains anyway.

    Returns ``(sig, scope)``; the caller either attaches the scope to
    its result (``out._ckpt_scope = scope`` for the
    ckpt.release_result hook) or releases it as soon as a downstream
    checkpoint (e.g. connected_components' internal edge checkpoint)
    has cut the lineage."""
    scope = CheckpointScope(sig)
    return scope.checkpoint(sig), scope


def lsh_candidate_pairs(sig: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Distinct (a < b) pairs sharing at least one band — the bucket join.

    Explodes to (band_idx, key) and self-joins per band; the shuffle key
    is the band hash, so co-bucketed docs co-locate and nothing else
    does.  At scale, skewed buckets (giant near-dup clusters) are split
    by AQE skew-join handling.
    """
    bands = F.array(*[F.col(f"band{b}") for b in range(N_BANDS)])
    keyed = (sig.select(F.col(id_col), F.posexplode(bands).alias("bidx", "bkey")))
    left = keyed.alias("l")
    right = keyed.alias("r")
    return (left.join(right,
                      (F.col("l.bidx") == F.col("r.bidx"))
                      & (F.col("l.bkey") == F.col("r.bkey"))
                      & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
            .select(F.col(f"l.{id_col}").alias("id_a"),
                    F.col(f"r.{id_col}").alias("id_b"))
            .distinct())


def jaccard(a: Column, b: Column) -> Column:
    """Set Jaccard over two pre-distinct arrays — |∩| and |∪| are exact
    ints, one double division (cross-engine identical)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return inter.cast("double") / union


def simhash32(df: DataFrame, id_col: str = "doc_id",
              text_col: str = "text", fast: bool = False) -> DataFrame:
    """32-bit SimHash over distinct tokens: bit j of the signature is the
    sign of Σ_tokens (±1 by bit j of the token hash).  One explode + one
    hash-agg; the 32 per-bit sums fold map-side."""
    from results_ingestor_spark.sources.tables import ensure_min_parallelism
    df = ensure_min_parallelism(df)
    hash_fn = stable_hash64 if fast else md5_long
    tok = (df.select(id_col,
                     F.explode(F.array_distinct(F.split(F.col(text_col), " ")))
                     .alias("tok"))
           .withColumn("h", hash_fn(F.col("tok"))))
    sums = [
        F.sum(F.when(F.expr(f"(h >> {j}) & 1") == 1, 1).otherwise(-1))
        .alias(f"s{j}")
        for j in range(32)
    ]
    agg = tok.groupBy(id_col).agg(*sums)
    sig = None
    for j in range(32):
        bit = F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    return agg.select(id_col, sig.cast("long").alias("simhash"))


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def connected_components(edges: DataFrame, vertices: DataFrame,
                         id_col: str = "doc_id", max_iter: int = 20,
                         ) -> DataFrame:
    """Distributed connected components by min-label propagation —
    near-dup pairs → dedup clusters (every doc labeled with its
    cluster's minimum id; the representative each cluster keeps).

    Iterative: each round every vertex takes the min of its own label
    and its neighbors' labels; converges in graph-diameter rounds
    (near-dup clusters are shallow — 2-4 rounds in practice), and the
    loop (``CheckpointScope.iterate``) stops at the first round that
    moves no label.  The symmetrized edge list is materialized ONCE up
    front: ``edges`` is usually an expensive derived frame (LSH
    candidate pairs, levenshtein-scored ER blocks), and a lazy loop
    would re-derive it every round (round 4: er_candidate_records
    6.6 s → 4.5 s at sf0.1 from this checkpoint alone).  This is the
    standard large-graph CC recipe (hash-partitioned joins, no
    driver-side graph) — at 100 TB the edge list shuffles on vertex id
    each round and nothing else.
    """
    scope = CheckpointScope(edges)
    sym = scope.checkpoint(
        edges.selectExpr("id_a AS src", "id_b AS dst")
        .unionByName(edges.selectExpr("id_b AS src", "id_a AS dst")))
    labels = scope.checkpoint(vertices.select(F.col(id_col).alias("v"),
                                              F.col(id_col).alias("label"),
                                              F.lit(0).alias("moves")))

    def relax(labels: DataFrame) -> DataFrame:
        neighbor_min = (sym.join(labels, sym["src"] == labels["v"])
                        .groupBy("dst").agg(F.min("label").alias("nmin")))
        new = F.least(F.col("label"), F.coalesce("nmin", F.col("label")))
        return (labels.join(neighbor_min,
                            labels["v"] == neighbor_min["dst"], "left")
                .select("v", new.alias("label"),
                        F.when(new < F.col("label"), F.col("moves") + 1)
                        .otherwise(F.col("moves")).alias("moves")))

    # ``moves`` counts each vertex's label decreases.  Labels never
    # increase, so a round that changes any label raises the total and
    # an unchanged total means no label moved: the next round sees the
    # same state and is a no-op.  The total is at most max_iter·|V|,
    # and it works for any orderable id type (ER ids are strings, so a
    # sum of the labels themselves would not).
    labels = scope.iterate(
        labels, relax, max_iter,
        signature=lambda s: s.agg(F.sum("moves")).first()[0])
    scope.release_all_except(labels)
    out = labels.select(F.col("v").alias(id_col),
                        F.col("label").alias("cluster_rep"))
    out._ckpt_scope = scope  # caller hook: ckpt.release_result(df)
    return out


def cdc_chunk_table(docs: DataFrame, mod: int = 16,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Content-defined chunking (the FastCDC/rsync boundary idea on
    tokens): a token TERMINATES a chunk when md5_long(token) % mod == 0,
    so boundaries are a function of content, not position — editing a
    document re-chunks only the chunk the edit lands in, and every
    identical span elsewhere still produces identical chunk hashes (the
    locality property pinned in tests/test_dedup.py).  Returns one row
    per (doc, chunk): chunk ordinal, md5 content hash, token count.

    Expected chunk length is ``mod`` tokens — one output row per ~mod
    input tokens, which is what makes chunk-level dedup an order of
    magnitude lighter on the shuffle than per-position n-grams."""
    from pyspark.sql import Window
    toks = docs.select(
        F.col(id_col),
        F.posexplode(F.split(text_col, " ")).alias("pos", "tok"))
    flagged = toks.withColumn(
        "flag", F.when(md5_long("tok") % mod == 0, 1).otherwise(0))
    w = (Window.partitionBy(id_col).orderBy("pos")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    chunked = flagged.withColumn(
        "chunk", F.sum("flag").over(w) - F.col("flag"))
    return (chunked.groupBy(id_col, "chunk")
            .agg(F.md5(F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(
                             F.struct("pos", "tok"))),
                         lambda s: s["tok"]),
                     " ")).alias("chunk_hash"),
                 F.count("*").alias("n_tokens")))
