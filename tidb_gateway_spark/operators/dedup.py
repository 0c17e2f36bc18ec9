"""Deduplication operator family for document corpora.

Tiers (all pure DataFrame transforms, no driver-side loops):

* exact — hash-groupBy on md5(text): the shuffle carries 32-char hashes,
  never document bodies.  O(n) one shuffle.
* MinHash + LSH — per-doc signature of K minimum keyed hashes over the
  shingle set, banded so that documents sharing any band collide;
  candidate pairs come from an equi-join on (band, band_value).  This is the
  100 TB near-dup path: the band join is a plain shuffle join whose key
  cardinality grows with the corpus, so it parallelizes; no pairwise
  O(n²) stage ever materializes.
* SimHash — per-doc b-bit signature from signed sums of word-hash bits;
  equal signatures ⇒ near-identical token multisets.
* exact Jaccard verification — computed only on the LSH candidate set;
  :func:`near_dup_pairs` is the whole candidate→verify pipeline.

Determinism: hashes are md5 hex strings (lexicographic min), reproducible
in any engine.  The ``DDB_*`` strings and ``ddb_*`` functions at the end
of this module are the DuckDB twins of every stage — shingles,
signatures, bands, the band join, the verify (set sizes, intersections,
Jaccard ratio and JACCARD_MIN), the cluster closure and SimHash — built
from the same constants.  Every registry oracle of this family is
assembled from them; only the streaming gate's epoch-ordered band joins
(q263/q265/q266) keep their own join predicate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tidb_gateway_spark.operators.localrel import local_rows_df
from tidb_gateway_spark.operators.partitioning import ensure_min_partitions
from tidb_gateway_spark.operators.sampling import hex_int
from tidb_gateway_spark.operators.text import ddb_word_rows, ddb_words, words

# The one MinHash-LSH operating point: SHINGLE_N-word shingles, K
# single-digest slices per signature (K <= 6: 32 hex chars / 5 per
# slice), split into BANDS bands of K // BANDS slices.  Persisted band
# indexes (q262/q265/q267) and every DuckDB oracle chain are built from
# these three numbers; the Jaccard verify is exact only on the same
# shingles the signatures hashed.
SHINGLE_N = 3
K = 6
BANDS = 3
ROWS = K // BANDS

# The one SimHash width: SIMHASH_BITS hex digits of md5(word), one bit
# each (at most 16, the two conv halves simhash folds them into).
SIMHASH_BITS = 16

# The near-dup verify threshold: a candidate pair is a near duplicate
# when the exact Jaccard of its shingle sets is at least JACCARD_MIN.
JACCARD_MIN = 0.5


def _shingle_array_sql(n: int) -> str:
    """SQL expression: array<string> of n-word shingles over ``wlist``."""
    return (
        f"CASE WHEN size(wlist) >= {n} THEN "
        f"transform(sequence(1, size(wlist) - {n - 1}), i -> "
        + "concat("
        + ", ' ', ".join(f"element_at(wlist, i + {k})" for k in range(n))
        + ")) WHEN size(wlist) > 0 THEN array(concat_ws(' ', wlist)) "
        "ELSE array(CAST(NULL AS string)) END"
    )


def doc_shingles(documents: DataFrame, n: int = SHINGLE_N,
                 distinct: bool = True) -> DataFrame:
    """(doc_id, shingle) pairs with n-word shingles (exploded form).

    Shingle choice is load-bearing: unigram sets collapse when the corpus
    shares a small vocabulary (every document collides with every other —
    O(n²) candidate blowup); n-gram shingles have corpus-scale cardinality
    so only genuinely similar documents share them.  Short documents
    (< n words) contribute their whole text as one shingle; a blank
    document contributes one NULL shingle, as its DuckDB twin does
    (``array_to_string([], ' ')`` is NULL there, where Spark's
    ``concat_ws`` gives ``''``).  A NULL shingle has a NULL signature,
    which never band-matches, so no two blank documents pair.

    ``distinct=True`` dedups through a shuffle — deliberately: the
    exchange it creates is a plan-level REUSE POINT, so consumers that
    fan out (q91's benchmark/probe sides) evaluate the shingling once.
    Measured at sf0.1, replacing this with map-side ``array_distinct``
    made q91 18× slower because every fan-out branch re-ran the
    shingle transform against the scan.
    """
    out = (
        ensure_min_partitions(documents)
        .select("doc_id", words().alias("wlist"))
        .select("doc_id", F.explode(F.expr(_shingle_array_sql(n))).alias("w"))
    )
    return out.distinct() if distinct else out


def minhash_signatures(words: DataFrame) -> DataFrame:
    """K-column MinHash signature per document (columns h0..h{K-1}) from
    an exploded (doc_id, w) frame.

    Single-digest MinHash: ONE md5 per shingle, with the j-th hash
    function taken as the j-th 5-hex-digit (20-bit) slice of the digest —
    slices of a cryptographic digest are independent, the standard
    one-hash-plus-derivation construction (datasketch does the same with
    one base hash and k permutations).  Versus K independent salted md5s
    this cuts the dominant cost (digesting every shingle K times) by K×,
    and the values stay engine-reproducible: the DuckDB oracle computes
    the identical substrings.

    Plan shape: groupBy partial-aggregates map-side, so the shuffle
    carries per-partition minima (≤ K slices per doc per partition),
    never the shingle text; this codegen'd hash-aggregate measured ~6×
    faster at sf0.1 than evaluating the same hashes through interpreted
    higher-order ``transform`` lambdas over per-doc shingle arrays.
    Min is multiset-invariant, so distinct and non-distinct shingle
    frames give identical signatures.
    """
    h = F.md5(F.col("w"))
    return words.groupBy("doc_id").agg(*[
        F.min(F.substring(h, 1 + 5 * j, 5)).alias(f"h{j}")
        for j in range(K)
    ])


def lsh_bands(signatures: DataFrame) -> DataFrame:
    """(doc_id, band, bv) rows: band b's value is the concatenation of
    its K // BANDS signature slices.  ONE inline over an array of band
    structs, so the signature pipeline is planned once for all bands
    (a per-band projection union pruned each branch to its own slices
    and re-planned the whole aggregate once per band)."""
    return signatures.select(
        "doc_id",
        F.inline(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.concat(*[F.col(f"h{b * ROWS + r}") for r in range(ROWS)])
                .alias("bv"),
            )
            for b in range(BANDS)
        ])),
    )


def band_pairs(bands: DataFrame) -> DataFrame:
    """Distinct (a, b) doc pairs, a < b, that share any (band, bv)
    bucket — the band equi-join.  Its key is high-cardinality so it
    spreads evenly, and identical documents (the common hot case)
    collapse into per-bucket groups that AQE's skew handling splits if
    one bucket explodes."""
    x, y = bands.alias("x"), bands.alias("y")
    return (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bv") == F.col("y.bv"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .distinct()
    )


def minhash_lsh_candidates(documents: DataFrame) -> DataFrame:
    """Candidate near-dup pairs (a < b) via MinHash banding.

    Two shuffles total: the signature aggregate (partial-aggregated
    map-side, shuffle carries minima only) and the band equi-join.
    """
    return band_pairs(lsh_bands(minhash_signatures(
        doc_shingles(documents, distinct=False))))


def near_dup_pairs(documents: DataFrame) -> DataFrame:
    """Verified near-dup pairs (a, b, jac): the LSH candidates whose
    exact shingle-set Jaccard is ≥ JACCARD_MIN — the candidate→verify
    pipeline (cost ∝ candidates, never corpus²)."""
    return (
        jaccard_pairs_arrays(minhash_lsh_candidates(documents),
                             doc_shingle_arrays(documents))
        .filter(F.col("jac") >= JACCARD_MIN)
    )


def simhash(documents: DataFrame) -> DataFrame:
    """(doc_id, sh) where sh is a SIMHASH_BITS-char '0'/'1' SimHash
    signature of each document's distinct words.

    Bit j is the sign of the sum over words of ±1 — +1 when hex digit j
    of md5(word) has its top bit set.  One groupBy shuffle.

    The word sets are deduplicated ROW-LOCALLY (``array_distinct``
    inside each row instead of a corpus-wide ``.distinct()`` exchange),
    so the per-doc bit sums reach their groupBy with map-side partial
    aggregation and ONE narrow shuffle.  The parallelism guard
    repartitions the RAW documents (50 k rows ≪ the 5 M exploded pairs
    a distinct would have shuffled) because a compact parquet source
    can be a single input split, which would serialize the per-word
    hashing onto one task.  Measured (sf1, r6): q73 1.9 s → 0.65 s.

    Production note: the md5-hex bit derivation exists for cross-engine
    oracle parity (DuckDB reproduces it in SQL).  A pipeline that owns
    both ends would use ``xxhash64(word)`` directly — one hash, no hex
    round-trip — with identical plan shape; the signature semantics
    (sign of per-bit sums) are unchanged.

    Bit extraction is integer ops, not string ops: the first
    SIMHASH_BITS hex digits are folded into two longs with ``conv``
    (once per word), and each bit test is a codegen'd shift+mask — "hex
    digit j has its top bit set" ⟺ ``(half >> 4*pos) & 15 >= 8``.
    Byte-identical to the per-digit substring/isin derivation the
    DuckDB twin (:data:`DDB_SIMHASH_SIGS`) spells out.
    """
    wsets = (
        ensure_min_partitions(documents.select("doc_id", "text"))
        .select("doc_id", F.explode(F.array_distinct(words())).alias("w"))
    )
    h = F.md5("w")
    hashed = wsets.select(
        "doc_id",
        hex_int(h, 1, 8).alias("_ha"),
        hex_int(h, 9, 8).alias("_hb"),
    )
    bit_aggs = []
    for j in range(SIMHASH_BITS):
        half, off = ("_ha", 4 * (7 - j)) if j < 8 else ("_hb", 4 * (15 - j))
        digit = F.shiftright(F.col(half), off).bitwiseAND(F.lit(15))
        bit_aggs.append(
            F.sum(F.when(digit >= 8, 1).otherwise(-1)).alias(f"b{j}")
        )
    per_doc = hashed.groupBy("doc_id").agg(*bit_aggs)
    sig = F.concat(
        *[F.when(F.col(f"b{j}") > 0, F.lit("1")).otherwise(F.lit("0"))
          for j in range(SIMHASH_BITS)]
    )
    return per_doc.select("doc_id", sig.alias("sh"))


def doc_shingle_arrays(documents: DataFrame) -> DataFrame:
    """Per-document DISTINCT SHINGLE_N-word shingle set as one ARRAY
    column, computed row-locally — no explode, no shuffle.  Same set per
    doc as ``doc_shingles(distinct=True)`` (array_distinct replaces the
    corpus-wide distinct exchange), packaged for consumers that want
    set algebra per ROW (array_intersect Jaccard) instead of per
    exploded pair.  ~115 shingles ≈ 1.5 kB per doc ride the verify
    joins as a payload column."""
    return (
        ensure_min_partitions(documents.select("doc_id", "text"))
        .select("doc_id", words().alias("wlist"))
        .select(
            "doc_id",
            F.array_distinct(F.expr(_shingle_array_sql(SHINGLE_N)))
            .alias("sharr"),
        )
    )


def jaccard_pairs_arrays(candidates: DataFrame,
                         shingle_arrays: DataFrame) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs via row-local set
    algebra: join each pair to the two docs' shingle ARRAYS and take
    ``size(array_intersect)`` — all codegen'd.

    Versus :func:`jaccard_pairs` (explode-join form): that shape
    shuffles |candidates| × |shingles/doc| exploded rows into a
    per-pair groupBy; this one shuffles |candidates| + 2·|docs| rows
    (arrays as payload) through two hash joins and does the
    intersection inside the row — measured 5.5 s → 2.0 s at sf1 for
    the q74 pipeline.  Same output contract as jaccard_pairs."""
    a_arr = shingle_arrays.select(
        F.col("doc_id").alias("a"), F.col("sharr").alias("sa"))
    b_arr = shingle_arrays.select(
        F.col("doc_id").alias("b"), F.col("sharr").alias("sb"))
    i = F.size(F.array_intersect("sa", "sb"))
    union_sz = F.size("sa") + F.size("sb") - i
    return (
        candidates.join(a_arr, "a")
        .join(b_arr, "b")
        .select(
            "a", "b",
            (i.cast("double") / union_sz.cast("double")).alias("jac"),
        )
    )


def jaccard_pairs(candidates: DataFrame, words: DataFrame) -> DataFrame:
    """Exact word-set Jaccard for candidate pairs (a, b) → (a, b, jac)
    over an exploded DISTINCT (doc_id, w) frame.

    The explode-join form of :func:`jaccard_pairs_arrays`, kept as its
    reference: tests assert both give the same (a, b, jac) set.
    """
    sizes = words.groupBy("doc_id").agg(F.count("*").alias("sz"))
    wa = words.select(F.col("doc_id").alias("a"), "w")
    wb = words.select(F.col("doc_id").alias("b"), "w")
    inter = (
        candidates.join(wa, "a")
        .join(wb, ["b", "w"])
        .groupBy("a", "b")
        .agg(F.count("*").alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("b"), F.col("sz").alias("nb"))
    return (
        inter.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            (
                F.col("i").cast("double")
                / (F.col("na") + F.col("nb") - F.col("i")).cast("double")
            ).alias("jac"),
        )
    )


def connected_components(pairs: DataFrame, a_col: str = "a",
                         b_col: str = "b", max_iter: int = 25,
                         driver_max_pairs: int = 1_000_000) -> DataFrame:
    """Group duplicate pairs into clusters: (doc_id, cluster_id) with
    cluster_id = MIN doc_id reachable through the pair graph.

    The last stage of the candidate→verify→cluster dedup pipeline
    (reference relays this to backends; here it is native): q72/q74
    emit PAIRS, but keep-one-per-group needs the transitive closure —
    a-b and b-c must collapse to one cluster {a,b,c} with canonical a.

    Two paths, dispatched on the VERIFIED pair count (known after one
    cheap count on the pinned edge frame):

    * ``≤ driver_max_pairs`` — driver-side union-find.  A verified
      near-dup pair list is metadata-sized relative to the corpus (two
      longs per confirmed duplicate pair, after LSH candidate pruning
      AND exact-Jaccard verification); 1M pairs is 16 MB.  Same class
      of sanctioned collect as the rank boundary sets (operators/
      rank.py): the driver never sees row data, only the tiny graph.
      Union-find is O(pairs α(n)) with zero extra Spark jobs — at
      sf1 this replaces ~6 s of per-round join/checkpoint overhead
      with milliseconds.
    * above the threshold — Spark-first iterative min-label
      propagation with pointer jumping: each round every node takes
      the min label over its neighbors (one shuffle join + groupBy),
      then labels shortcut through their own labels (path halving — a
      second self-join), giving O(log d) rounds for diameter-d
      components.  Per-round lineage is cut with localCheckpoint; the
      convergence check counts changed labels (a scalar action).

    100 TB shape: the big-graph path's state is one (node, label)
    table of long ids — bytes per node, never document bodies; every
    round is two key-partitioned shuffles of that table.  Both paths
    produce identical output (min reachable id is order-free).
    """
    def _pin(df: DataFrame) -> DataFrame:
        try:
            return df.localCheckpoint(eager=True)
        except Exception:  # Connect or checkpoint-less session
            df.persist()
            df.count()
            return df

    # Pin the PAIRS before anything else: the symmetrizing
    # union(e, e.swap) executes the caller's lineage once per branch,
    # so pinning after the union ran the whole candidate→verify
    # pipeline TWICE inside one job (the q209 unionAll lesson,
    # measured ~1 s of re-run pipeline per CC call at sf0.1 — guide
    # §2.4, duplicated subtrees).  Pinned first, every downstream
    # consumer — the gate count, the driver collect, both union
    # branches — reads checkpointed 16-byte rows.
    # The gate counts RAW directed pairs (one count on the pinned
    # frame, no distinct job): callers are expected to pass
    # deduplicated pair lists (every in-repo caller emits
    # candidate-distinct verified pairs).  A heavily duplicated
    # stream — e.g. many LSH bands re-emitting the same pair without
    # a distinct — can exceed the gate despite a tiny distinct edge
    # set and fall onto the slower distributed path; correctness is
    # unaffected either way (duplicate unions are no-ops).  Gating on
    # e.distinct().count() would cost an extra shuffle job on every
    # call to protect a caller pattern that does not exist here.
    e = _pin(pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v")))
    if e.count() <= driver_max_pairs:
        # Union-find is symmetric in its inputs, so the driver path
        # consumes the pinned DIRECTED pairs as-is — the symmetrize +
        # distinct + second checkpoint the distributed path needs
        # (three more jobs) never run here.  Duplicate pairs are
        # harmless no-op unions.
        spark = pairs.sparkSession
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = root, parent[x]
            return root

        edge_rows = e.collect()
        for row in edge_rows:
            ru, rv = find(row.u), find(row.v)
            if ru != rv:
                # union by value: larger root points at smaller, so the
                # final root of every node IS its min reachable id
                parent[max(ru, rv)] = min(ru, rv)
        out = [(u, find(u))
               for u in {x for row in edge_rows for x in (row.u, row.v)}]
        return local_rows_df(
            spark, sorted(out), "doc_id bigint, cluster_id bigint")

    edges = _pin(
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct())
    labels = _pin(edges.select("u").distinct().withColumn("lab", F.col("u")))
    for _ in range(max_iter):
        nbr = (
            edges.join(
                labels.select(F.col("u").alias("v"), F.col("lab").alias("vlab")),
                "v",
            )
            .groupBy("u")
            .agg(F.min("vlab").alias("nlab"))
        )
        stepped = labels.join(nbr, "u", "left").select(
            "u", F.least("lab", F.coalesce("nlab", "lab")).alias("lab")
        )
        # pointer jump: lab := label(lab) — halves chain lengths
        hop = stepped.select(F.col("u").alias("lab"), F.col("lab").alias("lab2"))
        jumped = stepped.join(hop, "lab", "left").select(
            "u", F.coalesce("lab2", "lab").alias("lab")
        )
        jumped = _pin(jumped)
        changed = (
            jumped.join(labels.select("u", F.col("lab").alias("old")), "u")
            .filter(F.col("lab") != F.col("old"))
            .count()
        )
        labels = jumped
        if changed == 0:
            break
    return labels.select(F.col("u").alias("doc_id"), F.col("lab").alias("cluster_id"))


def keep_first(df: DataFrame, key, order_col: str) -> DataFrame:
    """Generic keep-first dedup: one row per key, lowest order_col wins."""
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(order_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def simhash_multiprobe_pairs(documents: DataFrame) -> DataFrame:
    """Near-dup pairs within Hamming distance ≤ 1 of their SimHash
    signatures, via multi-probe LSH: each document emits its signature
    plus every 1-bit flip (SIMHASH_BITS+1 probes), and ``probe(a) == sig(b)``
    holds exactly when hamming(a, b) ≤ 1 — so the equi-join IS the
    distance predicate, with zero false positives and no verify pass.

    This closes the gap q73 documents (equal signatures ⇒ near-identical
    token multisets): exact-equality SimHash misses pairs that differ in
    one noisy bit; multi-probe recovers them for a (SIMHASH_BITS+1)× probe-side
    blowup while staying a plain shuffle join — the standard trade, and
    still never O(n²).  Distance-1 pairs are found from both endpoints'
    probe sets; the a<b filter + distinct collapses the two sightings.
    """
    from tidb_gateway_spark.operators.cache import tracked_persist

    # r7 rework, measured at sf1 (50 k docs, 17.8 M result pairs,
    # identical output): 9.3 s → 2.3 s.  Two changes:
    # (1) the (doc_id, signature) table is PERSISTED — it is the one
    #     diamond input both join sides read, and without it each side
    #     re-runs the tokenize→hash→bit-aggregate pipeline inside the
    #     join stage.  The table is |docs| × 16 B (dimension-small;
    #     MEMORY_AND_DISK so a 100 TB corpus spills instead of
    #     evicting); repeated calls build the same analyzed plan, so
    #     Spark's cache manager reuses one entry rather than leaking,
    #     and the tracked-persist LRU (operators/cache.py) bounds the
    #     session's distinct persisted plans (r8, per r7 ADVICE).
    #     This is the in-query form of the signature STORE a
    #     production pipeline materializes at ingest.
    # (2) signatures join as BIGINTs with XOR bit flips — an 8-byte
    #     shuffle key and codegen'd integer probes instead of a
    #     16-char '0'/'1' string rebuilt by substring/translate.
    sigs = tracked_persist(
        simhash(documents)
        .select("doc_id", F.conv("sh", 2, 10).cast("bigint").alias("si"))
    )
    probes = sigs.select(
        F.col("doc_id").alias("a"),
        F.explode(F.array(
            F.col("si"),
            *[F.col("si").bitwiseXOR(F.lit(1 << j))
              for j in range(SIMHASH_BITS)],
        )).alias("p"),
    )
    right = sigs.select(F.col("doc_id").alias("b"), F.col("si").alias("p"))
    return (
        probes.join(right, "p")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


# ---------------------------------------------------------------------------
# DuckDB twins, as CTE text over the ``documents`` view.  Table and
# column names (words/shingles/sigs/bands, h0..h{K-1}, band/bv,
# cand/sizes/inter, ver(a, b), (doc_id, cluster_id),
# b0..b{SIMHASH_BITS-1}) are part of the contract: oracles join on them.

# (doc_id, w) distinct SHINGLE_N-word shingles — doc_shingles
DDB_SHINGLES = (
    "shingles AS (SELECT DISTINCT doc_id, w FROM ("
    f"SELECT doc_id, UNNEST(CASE WHEN len(wl) >= {SHINGLE_N} THEN "
    f"list_transform(range(1, len(wl) - {SHINGLE_N - 2}), i -> "
    + " || ' ' || ".join(
        ["wl[i]"] + [f"wl[i+{k}]" for k in range(1, SHINGLE_N)])
    + ") ELSE [array_to_string(wl, ' ')] END) AS w FROM "
    f"(SELECT doc_id, {ddb_words()} AS wl FROM documents)))"
)
# (doc_id, h0..h{K-1}) over shingles — minhash_signatures
DDB_SIGS = (
    "sigs AS (SELECT doc_id, "
    + ", ".join(f"MIN(substr(md5(w), {1 + 5 * j}, 5)) AS h{j}"
                for j in range(K))
    + " FROM shingles GROUP BY doc_id)"
)
# (doc_id, band, bv) over sigs — lsh_bands
DDB_BANDS = (
    "bands AS ("
    + " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        + " || ".join(f"h{ROWS * b + r}" for r in range(ROWS))
        + " AS bv FROM sigs"
        for b in range(BANDS)
    )
    + ")"
)


def _cte(name: str, body: str, materialized: bool) -> str:
    return f"{name} AS {'MATERIALIZED ' if materialized else ''}({body})"


def ddb_cand(materialized: bool = False) -> str:
    """band_pairs over bands as cand(a, b).  ``materialized`` adds
    DuckDB's AS MATERIALIZED hint, for oracles that read cand more than
    once (without it DuckDB inlines the MinHash chain into each
    reference)."""
    return _cte(
        "cand",
        "SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bands x JOIN bands y "
        "ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id",
        materialized)


def ddb_sizes_inter(cand: str = "cand") -> str:
    """The Jaccard verify's inputs over the candidate CTE ``cand(a, b)``:
    shingle set sizes sizes(doc_id, sz) and intersections inter(a, b, i)."""
    return (
        "sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles GROUP BY doc_id), "
        f"inter AS (SELECT c.a, c.b, COUNT(*) AS i FROM {cand} c "
        "JOIN shingles wa ON wa.doc_id = c.a JOIN shingles wb ON wb.doc_id = c.b AND wb.w = wa.w "
        "GROUP BY c.a, c.b)"
    )


DDB_CAND_CHAIN = f"{ddb_cand()}, {ddb_sizes_inter()}"


def ddb_union_size(i: str = "i") -> str:
    """|A ∪ B| of a pair joined to ``sizes sa`` and ``sizes sb``, given
    its intersection ``i``."""
    return f"sa.sz + sb.sz - {i}"


def ddb_jaccard(i: str = "i") -> str:
    """jaccard_pairs_arrays' jac of a pair joined to ``sizes sa`` and
    ``sizes sb``, given its intersection ``i``."""
    return f"CAST({i} AS DOUBLE) / CAST({ddb_union_size(i)} AS DOUBLE)"


def ddb_near_dup(i: str = "i") -> str:
    """near_dup_pairs' verify predicate: Jaccard >= JACCARD_MIN."""
    return f"{ddb_jaccard(i)} >= {JACCARD_MIN}"


def ddb_verified(name: str = "ver", materialized: bool = False) -> str:
    """near_dup_pairs as ``name(a, b)`` over inter and sizes."""
    return _cte(
        name,
        "SELECT t.a, t.b FROM inter t "
        "JOIN sizes sa ON sa.doc_id = t.a JOIN sizes sb ON sb.doc_id = t.b "
        f"WHERE {ddb_near_dup()}",
        materialized)


def ddb_components(pairs_cte: str, name: str) -> str:
    """connected_components over ``pairs_cte(a, b)`` as
    ``name(doc_id, cluster_id)``: symmetrize, walk the closure with a
    recursive CTE, keep the MIN reachable id per node.  Its helper CTEs
    are prefixed with ``name``, so one oracle may call it twice; the
    oracle must open with WITH RECURSIVE."""
    e, w = f"{name}_edges", f"{name}_walk"
    return (
        f"{e} AS (SELECT a AS u, b AS v FROM {pairs_cte} "
        f"UNION SELECT b, a FROM {pairs_cte}), "
        f"{w}(n, m) AS (SELECT u, u FROM (SELECT DISTINCT u FROM {e}) "
        f"UNION SELECT e.u, w.m FROM {e} e JOIN {w} w ON w.n = e.v), "
        f"{name} AS (SELECT n AS doc_id, MIN(m) AS cluster_id FROM {w} GROUP BY n)"
    )


# simhash's per-bit sums b0..b{SIMHASH_BITS-1}, aggregated over words
DDB_SIMHASH_BITS = ", ".join(
    f"SUM(CASE WHEN substr(md5(w), {j + 1}, 1) IN "
    f"('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b{j}"
    for j in range(SIMHASH_BITS)
)
# the '0'/'1' signature string from those sums
DDB_SIMHASH_CONCAT = " || ".join(
    f"(CASE WHEN b{j} > 0 THEN '1' ELSE '0' END)" for j in range(SIMHASH_BITS)
)
# (doc_id, sh) signatures over distinct (doc_id, w) words — simhash
DDB_SIMHASH_SIGS = (
    f"words AS (SELECT DISTINCT doc_id, w FROM ({ddb_word_rows('doc_id')})), "
    f"perdoc AS (SELECT doc_id, {DDB_SIMHASH_BITS} FROM words GROUP BY doc_id), "
    f"sh AS (SELECT doc_id, {DDB_SIMHASH_CONCAT} AS sh FROM perdoc)"
)
# every 1-bit flip of a signature ``sh`` — simhash_multiprobe_pairs'
# probe set without the signature itself.  The oracles mirror the same
# O((SIMHASH_BITS+1)·n) probe join; an all-pairs bit-diff would be O(n²).
DDB_SIMHASH_FLIPS = (
    "list_transform(range(1, " + str(SIMHASH_BITS + 1) + "), j -> "
    "substr(sh, 1, j - 1) || "
    "(CASE substr(sh, j, 1) WHEN '0' THEN '1' ELSE '0' END) || "
    "substr(sh, j + 1))"
)
