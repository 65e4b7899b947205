"""Deduplication library — exact, n-gram Jaccard, MinHash+LSH, SimHash.

All hashing is the engine's own deterministic polynomial hash (functions/
text.py) so every operator here has an exact DuckDB oracle — no reliance
on engine-specific hash builtins.  Scale shapes:

- exact: one window over the text key (at 100 TB: hash-partition on
  md5(text), no driver involvement);
- n-gram Jaccard: explode distinct shingles → self-join on shingle →
  per-pair intersection counts.  Shingles with document frequency above
  MAX_SHINGLE_DF are dropped BEFORE the join (stop-shingle removal) — this
  is the skew guard: without it one ubiquitous shingle creates a quadratic
  hot key at scale;
- MinHash: k=8 permutations (a_i·h+b_i mod P), signature = per-doc min per
  permutation — one aggregation, no join; LSH bands of 2 rows → candidate
  pairs via equi-join on banded signature pairs;
- SimHash: 16-bit sign-aggregated token hashes via an explode over bit
  positions + two-level aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .caching import track, track_persist
from .text import POLY_A, POLY_P, _docs, poly_hash

SHINGLE_N = 4          # tokens per shingle
MAX_SHINGLE_DF = 100   # stop-shingle cap (skew guard)
MAX_BAND_DF = 64       # stop-bucket cap on the LSH banding key (skew guard)
JACCARD_MIN = 0.08
MINHASH_K = 8
MINHASH_AB = [  # (a, b) pairs, fixed constants shared with the SQL oracle
    (1103515245, 12345), (1229782938, 20011), (2038074743, 40503),
    (1664525, 1013904223), (22695477, 1), (134775813, 10011),
    (214013, 2531011), (69069, 362437),
]
SIMHASH_BITS = 16


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every doc mapped to the canonical (min doc_id) holder of its text.
    The window partitions on md5(text), not the raw body — a 32-char
    shuffle key instead of full document bodies (the 100 TB shape)."""
    d = _docs(spark, sf_dir)
    w = Window.partitionBy(F.md5(F.col("text")))
    return d.select(
        "doc_id",
        F.min("doc_id").over(w).alias("canonical_id"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_copies"),
        (F.col("doc_id") != F.min("doc_id").over(w)).alias("is_dup"),
    )


CHUNK_DOCS = 512          # _shingles_np vectorisation width cap
CHUNK_CHARS = 2_000_000  # _shingles_np padded-matrix memory cap (cells)


def _shingle_chunks(parsed: list) -> list:
    """Split _shingles_np's parsed docs (doc_id, joined, starts, lens)
    into vectorisation chunks, in order.  The prefix-scan matrices are
    (n_docs, longest_doc), so a chunk is flushed before the PADDED size
    (len(cur)+1) · max(lmax, len(doc)) would pass CHUNK_CHARS — one long
    document can never inflate the padding of its neighbours (a doc
    longer than the cap alone forms its own 1-row chunk)."""
    chunks, cur, lmax = [], [], 0
    for doc in parsed:
        n = len(doc[1])
        if cur and (len(cur) >= CHUNK_DOCS or (len(cur) + 1) * max(lmax, n) > CHUNK_CHARS):
            chunks.append(cur)
            cur, lmax = [], 0
        cur.append(doc)
        lmax = max(lmax, n)
    if cur:
        chunks.append(cur)
    return chunks


def _shingles_np(batches):
    """mapInArrow body of _shingles (module-level: captures nothing).

    Exact-integer numpy mirror of the Catalyst form.  Tokens mirror
    split(trim(text), '\\s+') precisely: trim strips SPACES only and
    Java's \\s is the ASCII class, so the Python side is
    strip(' ') + re.split(r'\\s+', …, flags=re.ASCII) (leading/trailing
    empty tokens survive in both engines).  Each shingle is a substring
    of the single-space re-join of the tokens, so its polynomial hash
    comes from mod-P prefix hashes — h(s,e) = (H[e] − H[s]·A^(e−s))
    mod P, the standard rolling identity, exactly equal to the
    per-shingle left fold — with the prefix scan vectorised ACROSS a
    chunk of documents (one padded matrix column step per char).
    Distinctness is by shingle STRING (set semantics of
    array_distinct), not by hash: a same-doc hash collision must still
    emit both rows, so equal (hash, len) candidates are string-compared.
    Equality with the Catalyst form is pinned by
    tests/test_shingle_numpy_mirror.py at 3 scales plus edge cases."""
    import re

    import numpy as np
    import pyarrow as pa

    SPLIT = re.compile(r"\s+", re.ASCII)
    P, A, N = POLY_P, POLY_A, SHINGLE_N
    for batch in batches:
        all_ids = batch.column("doc_id").to_pylist()
        all_texts = batch.column("text").to_pylist()
        parsed = []  # (doc_id, joined, starts, lens)
        for did, t in zip(all_ids, all_texts):
            if t is None:
                continue  # mirror: size(split(trim(NULL))) is NULL → dropped
            toks = SPLIT.split(t.strip(" "))
            if len(toks) < N:
                continue
            lens = np.fromiter((len(w) for w in toks), dtype=np.int64)
            starts = np.zeros(len(toks), dtype=np.int64)
            np.cumsum(lens[:-1] + 1, out=starts[1:])
            parsed.append((did, " ".join(toks), starts, lens))
        for docs in _shingle_chunks(parsed):
            lmax = max(len(j) for _, j, _, _ in docs)
            cpm = np.zeros((len(docs), lmax), dtype=np.int64)
            for r, (_, joined, _, _) in enumerate(docs):
                cpm[r, : len(joined)] = np.frombuffer(
                    joined.encode("utf-32-le"), dtype=np.uint32
                )
            # prefix hashes H[:, j] = hash of joined[:j] (padding columns
            # beyond a doc's length are garbage and never read)
            H = np.zeros((len(docs), lmax + 1), dtype=np.int64)
            for j in range(lmax):
                H[:, j + 1] = (H[:, j] * A + cpm[:, j]) % P
            pow_a = np.empty(lmax + 1, dtype=np.int64)
            pow_a[0] = 1
            for l in range(1, lmax + 1):
                pow_a[l] = (pow_a[l - 1] * A) % P
            out_id: list = []
            out_h: list = []
            for r, (did, joined, starts, lens) in enumerate(docs):
                s = starts[: len(starts) - N + 1]
                e = starts[N - 1 :] + lens[N - 1 :]
                h = (H[r, e] - H[r, s] * pow_a[e - s]) % P
                # array_distinct by STRING; fast path by (hash, len)
                seen: dict = {}
                keep = np.ones(len(h), dtype=bool)
                for i in range(len(h)):
                    key = (int(h[i]), int(e[i] - s[i]))
                    prev = seen.get(key)
                    if prev is None:
                        seen[key] = [i]
                    else:
                        sub = joined[s[i] : e[i]]
                        if any(joined[s[p] : e[p]] == sub for p in prev):
                            keep[i] = False
                        else:
                            prev.append(i)
                hk = h[keep]
                out_id.append(np.full(len(hk), did, dtype=np.int64))
                out_h.append(hk)
            yield pa.record_batch(
                {
                    "doc_id": pa.array(np.concatenate(out_id), type=pa.int64()),
                    "shingle": pa.array(np.concatenate(out_h), type=pa.int64()),
                }
            )


def _shingles(d: DataFrame) -> DataFrame:
    """doc_id → exploded DISTINCT token n-gram shingles.

    The shingle string is immediately hashed (poly_hash) and the hash is
    what flows through joins/aggregations — a bigint shuffle key instead
    of ~60-char strings.  Collisions (p ≈ n²/2·10⁻⁹) trade exactness for
    scale, identically in the engine and the DuckDB oracle.

    Round 8: the tokenize → 4-gram → polynomial-hash front runs as a
    vectorised numpy mapInArrow kernel (_shingles_np) — the per-shingle
    char fold was the dominant interpreted-HOF cost of every shingle
    consumer (guide §4.2).  Values are exact integers, pinned against
    the Catalyst form at 3 scales; only (doc_id, text) crosses the
    Python boundary, projected first."""
    return d.select("doc_id", "text").mapInArrow(
        _shingles_np, "doc_id bigint, shingle bigint"
    )


def _capped_pairs(
    post: DataFrame, keys: tuple, cap: int, carry: tuple = ()
) -> tuple[DataFrame, DataFrame]:
    """The df-capped postings self-join every pair-shaped dedup query
    shares: drop keys posted by more than ``cap`` rows (one window count
    over the key — the stop-key skew guard, so no hot key can go
    quadratic), persist the capped postings once (they feed both join
    sides and any per-doc consumer), and self-join them on ``keys`` with
    doc_a < doc_b, carrying each ``carry`` column as <c>_a / <c>_b.
    Returns (capped postings, pairs)."""
    n = F.count(F.lit(1)).over(Window.partitionBy(*keys))
    capped = track_persist(post.withColumn("_df", n).where(F.col("_df") <= cap).drop("_df"))

    def side(s):
        return capped.select(
            *keys,
            F.col("doc_id").alias(f"doc_{s}"),
            *[F.col(c).alias(f"{c}_{s}") for c in carry],
        )

    pairs = side("a").join(side("b"), list(keys)).where(F.col("doc_a") < F.col("doc_b"))
    return capped, pairs


def _shingle_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, n_inter, na, nb): shared df-capped shingle counts
    per candidate pair plus each side's capped shingle-set size — the
    common front of the Jaccard and containment scores.  The shingle
    kernel runs once (its only consumer is the cap window); the capped
    frame is the one persisted frame, read by the sizes and both join
    sides."""
    sh, pairs = _capped_pairs(_shingles(_docs(spark, sf_dir)), ("shingle",), MAX_SHINGLE_DF)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = pairs.groupBy("doc_a", "doc_b").agg(F.count(F.lit(1)).alias("n_inter"))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return inter.join(sa, "doc_a").join(sb, "doc_b")


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate near-dup pairs by token-4-gram Jaccard similarity.
    Scored over _shingle_overlap's df-capped shingle sets."""
    jaccard = F.round(
        F.col("n_inter").cast("double") / (F.col("na") + F.col("nb") - F.col("n_inter")),
        6,
    )
    return (
        _shingle_overlap(spark, sf_dir)
        .withColumn("jaccard", jaccard)
        .where(F.col("jaccard") >= JACCARD_MIN)
        .select("doc_a", "doc_b", F.col("n_inter").cast("bigint").alias("n_inter"), "jaccard")
    )


def _minhash_over(sh: DataFrame) -> DataFrame:
    """hashed-shingle frame → per-doc k=8 MinHash signature columns."""
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % POLY_P).cast("bigint").alias(f"mh{i}")
        for i, (a, b) in enumerate(MINHASH_AB)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


OVERLAP_MIN = 0.5  # overlap-coefficient threshold for containment pairs


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-SUPERSET detection: pairs whose shingle OVERLAP COEFFICIENT
    |A∩B| / min(|A|,|B|) clears OVERLAP_MIN — the asymmetric complement
    of Jaccard that catches a document quoted or embedded inside a larger
    one (Jaccard stays low when sizes differ wildly; containment does
    not).  Same df-capped shingle pairs as dedup_ngram_jaccard
    (_shingle_overlap); plus the directional containment fractions so a
    consumer can tell which side is the (near-)subset."""
    overlap = F.round(
        F.col("n_inter").cast("double") / F.least(F.col("na"), F.col("nb")), 6
    )
    return (
        _shingle_overlap(spark, sf_dir)
        .where(overlap >= OVERLAP_MIN)
        .select(
            "doc_a",
            "doc_b",
            F.col("n_inter").cast("bigint").alias("n_inter"),
            overlap.alias("overlap"),
            F.round(F.col("n_inter").cast("double") / F.col("na"), 6).alias("contain_a"),
            F.round(F.col("n_inter").cast("double") / F.col("nb"), 6).alias("contain_b"),
        )
    )


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id → k=8 MinHash values (one column per permutation)."""
    d = _docs(spark, sf_dir)
    return _minhash_over(_shingles(d).withColumnRenamed("shingle", "h"))


def _banded(sig: DataFrame) -> DataFrame:
    """signature frame → (doc_id, band, v0, v1) banding rows (4 bands × 2)."""
    bands = []
    for band in range(MINHASH_K // 2):
        c0, c1 = f"mh{2 * band}", f"mh{2 * band + 1}"
        bands.append(
            sig.select(
                "doc_id",
                F.lit(band).alias("band"),
                F.col(c0).alias("v0"),
                F.col(c1).alias("v1"),
            )
        )
    banded = bands[0]
    for bdf in bands[1:]:
        banded = banded.unionByName(bdf)
    return banded


def lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding (4 bands × 2 rows) over the MinHash signatures →
    candidate near-dup edges.

    100 TB shape (VERDICT r03 item 1): byte-identical documents are
    collapsed to their canonical (min doc_id) representative BEFORE
    MinHash — a cluster of k exact copies shares every band, so banding
    the raw corpus would emit k²/2 pairs × 4 bands; after the collapse it
    contributes exactly k-1 *star* edges (canonical → copy) from the
    already-cheap exact-dup window, and only the single representative
    enters the band join.  Belt and braces, banding buckets with more than
    MAX_BAND_DF representatives (near-identical-but-not-identical pileups)
    are dropped as stop-buckets, exactly like MAX_SHINGLE_DF drops
    stop-shingles — the recall cost is documented and the cap is mirrored
    in the DuckDB oracle.  Component structure downstream is unchanged:
    star edges connect exact copies to a representative that carries the
    cluster's near-dup edges.

    Plan economics (the narrow-frame discipline): the canonical map is a
    groupBy over (md5(text), doc_id) PROJECTED FIRST — only 40-byte rows
    shuffle, never document bodies; signatures are computed for ALL docs
    (linear work — the quadratic was only ever the band join) so the
    expensive shingle scan is identical to the pre-collapse plan; the
    rep filter then joins the NARROW signature frame (9 columns of
    bigints) against the rep-id set; and the bucket df-cap is
    _capped_pairs' one window count over the banding key, not an extra
    aggregate+join round trip, whose persisted capped band frame feeds
    both sides of the self-join."""
    d = _docs(spark, sf_dir)
    keyed = d.select("doc_id", F.md5(F.col("text")).alias("k"))
    canon = track_persist(
        keyed.select(
            "doc_id",
            F.min("doc_id").over(Window.partitionBy("k")).alias("canonical_id"),
        )
    )
    rep_ids = canon.where(F.col("doc_id") == F.col("canonical_id")).select("doc_id")
    sig = _minhash_over(_shingles(d).withColumnRenamed("shingle", "h"))
    # persisted: _banded projects this frame once per band, and exchange
    # reuse only dedups the shuffle — without the persist each union
    # branch re-runs the 8-way minhash aggregation over the shingle
    # stream (round-8 profile: the banding stage was 4× the signature
    # cost at sf1.0)
    rep_sig = track_persist(sig.join(rep_ids, "doc_id"))
    _, band_pairs = _capped_pairs(_banded(rep_sig), ("band", "v0", "v1"), MAX_BAND_DF)
    rep_pairs = band_pairs.select("doc_a", "doc_b").distinct()
    star = canon.where(F.col("doc_id") != F.col("canonical_id")).select(
        F.col("canonical_id").alias("doc_a"), F.col("doc_id").alias("doc_b")
    )
    # disjoint by construction: star's doc_b is never a representative
    return rep_pairs.unionByName(star)


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the LSH candidate
    pair graph, by iterative min-label propagation — every document is
    labelled with the smallest doc_id reachable through candidate edges
    (singletons keep their own id).

    The distributed-iterative shape: each round is one join + one
    aggregation (labels pushed across edges, min per node), converging in
    O(component diameter) rounds — near-dup components are tiny, so a
    handful.  The loop is driver-side control flow over fully distributed
    steps (no .collect() of data; the only driver value is the
    changed-row count).  The DuckDB oracle computes the same fixpoint with
    a recursive CTE — an exact gate for an iterative algorithm."""
    d = _docs(spark, sf_dir).select("doc_id")
    pairs = lsh_candidate_pairs(spark, sf_dir)
    return min_label_components(d, pairs)


def min_label_components(d: DataFrame, pairs: DataFrame) -> DataFrame:
    """Pointer-jumped min-label propagation over an undirected edge list.

    ``d``: (doc_id) node frame; ``pairs``: (doc_a, doc_b) edges.  Every ~5
    rounds the label frame is localCheckpoint()ed: persists bound
    *recompute*, but each round still deepens the Catalyst logical plan
    over the previous frame, and analysis cost grows superlinearly on long
    chains — truncating lineage keeps a pathological-diameter graph from
    drowning the driver in plan analysis (VERDICT r03 item 3).  Pointer
    jumping keeps real round counts at O(log diameter), so the checkpoint
    fires at most a few times."""
    # symmetric edge list (propagation runs both directions)
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    )
    edges = track_persist(edges)
    labels = d.select("doc_id", F.col("doc_id").alias("component_id"))
    changed = -1
    for round_no in range(25):  # with pointer-jumping this covers diameter 2^25
        neighbor_min = (
            edges.join(labels, edges.src == labels.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("component_id").alias("n_min"))
        )
        stepped = labels.join(neighbor_min, "doc_id", "left").select(
            "doc_id",
            F.least(
                F.col("component_id"), F.coalesce(F.col("n_min"), F.col("component_id"))
            ).alias("component_id"),
        )
        # pointer-jump (label doubling): label ← label-of-label, so chains
        # halve every round and convergence is O(log diameter) — the 25-
        # round cap can no longer be hit by a long path (ADVICE r02 item 1)
        hop = stepped.select(
            F.col("doc_id").alias("_h_id"), F.col("component_id").alias("_h_comp")
        )
        new_labels = (
            stepped.join(hop, stepped.component_id == hop._h_id, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("component_id"),
                    F.coalesce(F.col("_h_comp"), F.col("component_id")),
                ).alias("component_id"),
            )
            .persist()
        )
        changed = (
            new_labels.join(
                labels.withColumnRenamed("component_id", "old"), "doc_id"
            )
            .where(F.col("component_id") != F.col("old"))
            .count()
        )
        # the count materialised new_labels' cache → the previous round's
        # frame can be dropped (keeps the loop at O(1) cached frames;
        # unpersist on a never-persisted frame is a no-op)
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
        if round_no % 5 == 4:
            # truncate lineage (see docstring); localCheckpoint returns a
            # frame backed by materialised partitions, so the persisted
            # new_labels cache can be released immediately
            checkpointed = labels.localCheckpoint()
            labels.unpersist()
            labels = checkpointed
    if changed != 0:
        # never silently return a non-fixpoint labelling: the DuckDB oracle
        # is the exact fixpoint (ADVICE r02 item 1)
        raise RuntimeError(
            "dedup_components did not converge within 25 pointer-jumped "
            f"rounds (last round changed {changed} labels)"
        )
    return track(labels)  # last round's frame is still persisted


def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash over token hashes (with multiplicity): bit j is 1
    iff sum over tokens of ±1 (by token-hash bit j) is positive.

    Single-pass shape (VERDICT r03 item 2): ONE groupBy("doc_id") with 16
    conditional-sum expressions — bit j extracted by literal-shift integer
    arithmetic inside the aggregate.  The previous plan exploded every
    token × 16 bit positions and aggregated twice; that was 16× the
    shuffle bytes of this plan on the same token stream."""
    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok")
    ).select("doc_id", poly_hash(F.col("tok")).alias("h"))
    aggs = [
        F.sum(
            F.when((F.col("h").bitwiseAND(F.lit(1 << j))) != 0, 1).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(SIMHASH_BITS)
    ]
    per_doc = toks.groupBy("doc_id").agg(*aggs)
    total = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        total = term if total is None else total + term
    return per_doc.select("doc_id", total.cast("bigint").alias("simhash"))


BENCH_MOD = 97        # deterministic benchmark subset: doc_id % BENCH_MOD == 0
BENCH_MAX_DOCS = 64   # hard cap on the stand-in suite size (broadcast bound)


def doc_benchmark_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark DECONTAMINATION: training docs whose token-4-gram shingle
    sets overlap a held-out benchmark subset (doc_id % 97 == 0 — a
    deterministic stand-in for an eval suite), with the contaminated
    shingle fraction per doc.

    Spark-first plan: the hashed-shingle frame is built ONCE and persisted
    (both the benchmark projection and the train side read it); the
    benchmark is capped at BENCH_MAX_DOCS documents (a real eval suite is
    a fixed artifact, so the stand-in must be bounded too — without the
    cap the % filter grows with N and the forced broadcast would OOM at
    the 100 TB design point, ADVICE r03 item 2), so the probe is an
    explicitly broadcast hash join against the full train corpus — the
    benchmark side stays O(eval-suite) while the train side streams
    map-side, no shuffle of the corpus."""
    d = _docs(spark, sf_dir)
    sh = track_persist(_shingles(d))
    bench = (
        sh.where(
            (F.col("doc_id") % BENCH_MOD == 0)
            & (F.col("doc_id") < BENCH_MOD * BENCH_MAX_DOCS)
        )
        .select("shingle")
        .distinct()
    )
    train = sh.where(F.col("doc_id") % BENCH_MOD != 0)
    sizes = train.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    hits = (
        train.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return sizes.join(hits, "doc_id").select(
        "doc_id",
        F.col("n_sh").cast("bigint").alias("n_sh"),
        F.col("n_hit").cast("bigint").alias("n_hit"),
        F.round(F.col("n_hit").cast("double") / F.col("n_sh"), 6).alias("contamination"),
    )


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CANONICAL-COPY SELECTION — the step that makes near-dup detection
    actionable for a training corpus: within every near-dup cluster
    (dedup_components' connected components over the LSH candidate
    graph), keep the highest-quality copy (doc_quality_score, doc_id
    tie-break) and mark the rest droppable.

    One join + two windows partitioned by component_id — clusters are
    tiny by construction (LSH candidates), so the per-cluster sort is
    O(cluster); everything upstream is the already-verified distributed
    machinery."""
    from .text import doc_quality_score

    comp = dedup_components(spark, sf_dir)
    qual = doc_quality_score(spark, sf_dir).select("doc_id", "quality_score")
    j = comp.join(qual, "doc_id")
    w = Window.partitionBy("component_id").orderBy(
        F.col("quality_score").desc(), F.col("doc_id")
    )
    wc = Window.partitionBy("component_id")
    return j.select(
        "doc_id",
        "component_id",
        "quality_score",
        (F.row_number().over(w) == 1).alias("is_canonical"),
        F.count(F.lit(1)).over(wc).cast("bigint").alias("n_in_component"),
    )


# ---------------------------------------------------------------------------
# substring-level dedup (VERDICT r05 item 2): the training-data modality
# doc-level shingle dedup cannot see — a 50-token boilerplate run repeated
# across otherwise-distinct documents never moves whole-document Jaccard,
# but it IS a shared span of winnowing fingerprints on one (doc_a, doc_b)
# positional diagonal.

SS_K = 16            # k-gram width (chars) of every _winnow_postings reader
SS_W = 8             # winnowing window (hashes); guarantee: any shared
                     # substring of length >= SS_W + SS_K - 1 = 23 chars
                     # yields at least one shared fingerprint
SS_GAP = 16          # max anchor-start gap inside one run (2·SS_W: interior
                     # anchors of a truly shared region are <= SS_W apart;
                     # the slack absorbs context-dependent edge selections)
SS_MIN_SPAN = 24     # emit runs covering at least this many chars
MAX_FP_DF_SS = 16    # stop-fingerprint doc-frequency cap (skew guard, the
                     # MAX_SHINGLE_DF/MAX_BAND_DF discipline): bounds the
                     # docs paired per fingerprint at df <= 16;
                     # ubiquitous boilerplate (df above the cap) is out of
                     # scope for the PAIRWISE span report by design
SS_LIFT = 4_294_967_296  # (fp, pos) -> fp·2³² + pos bigint encoding — keeps
                     # the winnowing selection set dedup-able as plain ints
                     # in BOTH engines (pos < 2³² covers 4G-char documents)


def _winnow_np(batches):
    """mapInArrow body of _winnow_postings (module-level: captures
    nothing).  Pure-int64 numpy mirror of the Catalyst form, vectorised
    over POSITIONS: the per-position k-gram hash runs the IDENTICAL left
    fold (acc·POLY_A + cp) % P — for position i the scalar op sequence is
    exactly the slice fold's — as SS_K whole-array ops instead of
    len·SS_K interpreted lambda steps, and the sliding window min is
    SS_W np.minimum passes (min is order-free).  All arithmetic is exact
    integer (no IEEE concerns); codepoints come from UTF-32 words =
    ord() = Spark ascii() on this BMP corpus (equality pinned by
    tests/test_winnow_numpy_mirror.py at sf0.001/sf0.01/sf0.1)."""
    import numpy as np
    import pyarrow as pa

    K, W, P, A, LIFT = SS_K, SS_W, POLY_P, POLY_A, SS_LIFT
    for batch in batches:
        ids = batch.column("doc_id").to_pylist()
        texts = batch.column("text").to_pylist()
        out_id: list = []
        out_code: list = []
        null_ids: list = []
        for did, t in zip(ids, texts):
            if t is None:
                # mirror the Catalyst null propagation EXACTLY: size(NULL)
                # is NULL but greatest(NULL, 1) = 1, so the selection
                # array is [NULL] and explode emits ONE (doc_id, NULL,
                # NULL) row (verified by the edge-case pin test)
                null_ids.append(did)
                continue
            cp = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
            n = len(cp)
            if n >= K:
                npos = n - K + 1
                acc = np.zeros(npos, dtype=np.int64)
                for j in range(K):
                    acc = (acc * A + cp[j : j + npos]) % P
            else:
                # the Catalyst edge: ONE position whose slice is the
                # whole (short) array
                h = 0
                for c in cp:
                    h = (h * A + int(c)) % P
                acc = np.array([h], dtype=np.int64)
            enc = acc * LIFT + np.arange(1, len(acc) + 1, dtype=np.int64)
            m = len(enc)
            nwin = max(m - (W - 1), 1)
            sel = enc[:nwin].copy()
            for j in range(1, min(W, m)):
                np.minimum(sel, enc[j : j + nwin], out=sel)
            codes = np.unique(sel)
            out_id.append(np.full(len(codes), did, dtype=np.int64))
            out_code.append(codes)
        if out_id:
            code = np.concatenate(out_code)
            yield pa.record_batch(
                {
                    "doc_id": pa.array(np.concatenate(out_id), type=pa.int64()),
                    "fp": pa.array(code // LIFT, type=pa.int64()),
                    "pos": pa.array(code % LIFT, type=pa.int64()),
                }
            )
        if null_ids:
            yield pa.record_batch(
                {
                    "doc_id": pa.array(null_ids, type=pa.int64()),
                    "fp": pa.array([None] * len(null_ids), type=pa.int64()),
                    "pos": pa.array([None] * len(null_ids), type=pa.int64()),
                }
            )


def _winnow_postings(d: DataFrame) -> DataFrame:
    """Positional winnowing postings (doc_id, fp, pos): the
    Schleimer/Wilkerson/Aiken selection with k=SS_K / w=SS_W over the raw
    character stream — the one k-gram winnowing front.  Shared by
    dedup_substring_spans, dedup_boilerplate_catalog and doc_winnow_* so
    they all report over the identical fingerprint universe.

    Round 8: the hash+select front runs as a vectorised numpy mapInArrow
    kernel (_winnow_np) instead of nested Catalyst higher-order folds —
    the per-position slice fold was O(len·k) INTERPRETED lambda steps and
    dominated every consumer of this frame (guide §4.2: hand whole
    batches to native code).  Values are bit-identical by construction
    (same exact-integer op sequence; pinned against the Catalyst form by
    tests/test_winnow_numpy_mirror.py at 3 scales).  Only (doc_id, text)
    crosses the Python boundary, projected first."""
    return d.select("doc_id", "text").mapInArrow(
        _winnow_np, "doc_id bigint, fp bigint, pos bigint"
    )


def doc_winnow_min_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style fingerprint: minimum polynomial hash over all
    16-char windows of the document (robust to local edits).

    Read off the postings: every window that holds the global minimum
    k-gram hash selects it, so the smallest selected fp IS that minimum
    (NULL text posts one NULL fp, as the minimum over [NULL] is NULL)."""
    return (
        _winnow_postings(_docs(spark, sf_dir))
        .groupBy("doc_id")
        .agg(F.min("fp").cast("bigint").alias("winnow_fp"))
    )


def doc_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL winnowing (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the local
    document-fingerprinting algorithm): hash every k-gram, slide a window
    of w consecutive hashes, select each window's minimum, and keep the
    DISTINCT selected hashes as the document's fingerprint set.  Guarantees
    any shared substring of length >= w + k - 1 produces a shared
    fingerprint.  Reported as order-independent set invariants (size, sum,
    min) so the oracle needn't agree on set ordering.  k=SS_K=16,
    w=SS_W=8: matches within ~23 chars are detected.

    Read off the postings: each window keeps its minimum (fp, pos), whose
    fp is the window's minimum hash, so a document's distinct posted fps
    are exactly its distinct window minima.  NULL text posts one NULL fp
    and keeps the set [NULL]: size 1, NULL sum and min."""
    fp = F.col("fp")
    return (
        _winnow_postings(_docs(spark, sf_dir))
        .groupBy("doc_id")
        .agg(
            (F.count_distinct(fp) + F.count_if(fp.isNull()))
            .cast("bigint")
            .alias("n_fingerprints"),
            F.sum_distinct(fp).cast("bigint").alias("fp_sum"),
            F.min(fp).cast("bigint").alias("fp_min"),
        )
    )


def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-substring span detection between document pairs (the
    suffix-dedup modality, Spark-shaped): winnowing fingerprints WITH
    POSITIONS (Schleimer/Wilkerson/Aiken selection, k=16/w=8 as in
    doc_winnow_fingerprints) → df-capped per-fingerprint pairs → runs of
    near-consecutive shared anchors on one positional diagonal
    (pos_b − pos_a constant across a shared region) → per-run span
    extents in both documents.

    Scale shape (no all-pairs anywhere): postings are grouped by the
    fingerprint (hash-partitioned), stop-fingerprints with doc-frequency
    > MAX_FP_DF_SS are dropped BEFORE any pairing and singletons (df < 2)
    never enter it; the run assembly is one exchange keyed by (doc_a,
    doc_b, diag).  At 100 TB this scales by fingerprints exactly like
    the LSH band join."""
    # Shuffle economy (guide §2.4): postings → df cap → group by fp ONCE
    # (sorted occurrence lists) → map-side ordered pairs → one exchange
    # keys the runs by (doc_a, doc_b, diag), where a HOF run-splitter
    # over each group's sorted positions replaces a lag window plus a
    # second aggregation.
    # The df cap runs FIRST, as a bounded-state aggregate + semi-join:
    # an unbounded-df boilerplate fingerprint (the population
    # dedup_boilerplate_catalog exists for) is never buffered into one
    # aggregation row.  It is a DISTINCT-doc cap, not a row count,
    # because a (doc, fp) can post several positions; so one capped
    # fingerprint still holds occ = Σ positions ≥ df entries (a
    # repetitive document makes occ ≫ df), and its pairs are occ²/2.
    # They therefore stream: an outer explode over occ, then an inner
    # explode over the later-doc entries, so no row holds an array longer
    # than occ (pinned by tests/test_substring_dedup.py).
    # post is persisted for its two consumers (cap + group).
    post = track_persist(_winnow_postings(_docs(spark, sf_dir)))
    eligible = (
        post.groupBy("fp")
        .agg(F.countDistinct("doc_id").alias("df"))
        .where((F.col("df") >= 2) & (F.col("df") <= MAX_FP_DF_SS))
        .select("fp")
    )
    grouped = (
        post.join(eligible, "fp")
        .groupBy("fp")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "pos"))).alias("occ"))
    )
    outer = grouped.select("occ", F.explode("occ").alias("x"))
    later = F.filter(F.col("occ"), lambda y: y["doc_id"] > F.col("x.doc_id"))
    m = outer.select(
        F.col("x.doc_id").alias("doc_a"),
        F.col("x.pos").alias("pos_a"),
        F.explode(later).alias("y"),
    ).select(
        "doc_a",
        F.col("y.doc_id").alias("doc_b"),
        "pos_a",
        (F.col("y.pos") - F.col("pos_a")).alias("diag"),
    )
    byd = m.groupBy("doc_a", "doc_b", "diag").agg(
        F.sort_array(F.collect_list("pos_a")).alias("ps")
    )
    # run starts: position 1, or any anchor further than SS_GAP from its
    # predecessor (CASE keeps the i-1 access lazy for i=1 under ANSI)
    starts = F.filter(
        F.sequence(F.lit(1), F.size("ps")),
        lambda i: F.when(i == 1, F.lit(True)).otherwise(
            F.element_at(F.col("ps"), i) - F.element_at(F.col("ps"), i - 1) > SS_GAP
        ),
    )
    runs = F.transform(
        F.sequence(F.lit(1), F.size(F.col("st"))),
        lambda j: F.struct(
            F.element_at(F.col("ps"), F.element_at(F.col("st"), j)).alias("a_start"),
            (
                F.element_at(
                    F.col("ps"),
                    F.when(
                        j < F.size(F.col("st")),
                        F.element_at(F.col("st"), j + 1) - 1,
                    ).otherwise(F.size("ps")),
                )
                + F.lit(SS_K - 1)
            ).alias("a_end"),
            (
                F.when(
                    j < F.size(F.col("st")),
                    F.element_at(F.col("st"), j + 1) - 1,
                ).otherwise(F.size("ps"))
                - F.element_at(F.col("st"), j)
                + 1
            ).cast("bigint").alias("n_fps"),
        ),
    )
    g = (
        byd.select("doc_a", "doc_b", "diag", "ps", starts.alias("st"))
        .select("doc_a", "doc_b", "diag", F.explode(runs).alias("r"))
        .select("doc_a", "doc_b", "diag", "r.a_start", "r.a_end", "r.n_fps")
    )
    span = F.col("a_end") - F.col("a_start") + 1
    return g.where(span >= SS_MIN_SPAN).select(
        "doc_a",
        "doc_b",
        F.col("a_start").cast("bigint").alias("a_start"),
        F.col("a_end").cast("bigint").alias("a_end"),
        (F.col("a_start") + F.col("diag")).cast("bigint").alias("b_start"),
        (F.col("a_end") + F.col("diag")).cast("bigint").alias("b_end"),
        span.cast("bigint").alias("span_len"),
        F.col("n_fps").cast("bigint").alias("n_shared_fps"),
    )


def dedup_substring_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-character fraction — the actionable
    removal signal dedup_substring_spans' extents imply: how much of
    each document is covered by some shared span with ANY other
    document.  Built on the SAME span report (and thus the same
    persisted postings): both sides' extents become per-doc intervals,
    overlapping intervals merge (classic running-max sweep), and the
    merged lengths sum against the document length.

    Scale shape: the interval merge is one window PARTITIONED BY doc_id
    (parallel; per-doc interval counts are bounded by the span report's
    df-capped fan-out), then one groupBy(doc_id) and a broadcast-free
    equi-join back to documents for the length.  covered/len is
    BIGINT/BIGINT → the same IEEE double in both engines (the
    boilerplate-density precedent)."""
    d = _docs(spark, sf_dir)
    # the span report is referenced TWICE (doc_a extents ∪ doc_b extents)
    # and Catalyst does not CSE across union branches — without a persist
    # the whole df-capped pair pipeline runs twice (measured 10.9 s
    # vs 6.1 s at sf0.1)
    spans = track_persist(dedup_substring_spans(spark, sf_dir))
    iv = spans.select(
        F.col("doc_a").alias("doc_id"),
        F.col("a_start").alias("s"),
        F.col("a_end").alias("e"),
    ).unionByName(
        spans.select(
            F.col("doc_b").alias("doc_id"),
            F.col("b_start").alias("s"),
            F.col("b_end").alias("e"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy("s", "e")
    prev_max = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    grp = F.sum(
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0)
    ).over(w.rowsBetween(Window.unboundedPreceding, 0))
    merged = (
        iv.withColumn("g", grp)
        .groupBy("doc_id", "g")
        .agg(F.min("s").alias("ms"), F.max("e").alias("me"))
    )
    cov = merged.groupBy("doc_id").agg(
        F.sum(F.col("me") - F.col("ms") + 1).alias("covered"),
        F.count(F.lit(1)).alias("n_regions"),
    )
    nsp = iv.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_spans"))
    return (
        d.select("doc_id", F.length("text").alias("len_chars"))
        .join(cov, "doc_id", "left")
        .join(nsp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_spans"), F.lit(0)).cast("bigint").alias("n_spans"),
            F.coalesce(F.col("n_regions"), F.lit(0)).cast("bigint").alias("n_regions"),
            F.coalesce(F.col("covered"), F.lit(0)).cast("bigint").alias("covered_chars"),
            F.col("len_chars").cast("bigint").alias("len_chars"),
            (
                F.coalesce(F.col("covered"), F.lit(0)) / F.col("len_chars")
            ).alias("dup_frac"),
        )
    )


def dedup_boilerplate_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-fingerprint catalog: the COMPLEMENT of
    dedup_substring_spans' df cap.  Fingerprints with doc-frequency
    > MAX_FP_DF_SS are dropped from the pairwise span report by design
    (their df² join fan-out is the all-pairs blow-up the cap exists to
    prevent) — but at training-data scale those are exactly the
    ubiquitous boilerplate runs (license headers, nav chrome, cookie
    banners) a pipeline wants as a CATALOG, not as pairs.  This query
    emits one row per high-df fingerprint: its doc frequency, total
    occurrence count, and an example occurrence (lexicographically first
    (doc_id, pos)) with the raw k-gram text.

    Scale shape: one groupBy over the postings (map-side partial aggs;
    O(distinct fingerprints) output, and the df > cap filter keeps the
    catalog to the boilerplate tail only — by Zipf a vanishing fraction
    of fingerprints), then the tiny catalog is BROADCAST into a single
    pass over documents to extract the example grams.  The corpus never
    shuffles; no self-join anywhere, so df is unbounded — the exact
    regime the pair report cannot enter.

    F.min(struct(doc_id, pos)) is lexicographic, i.e. (min doc_id, then
    min pos within that doc) — the oracle computes the same value with a
    two-step MIN (DuckDB's struct MIN is not engine-portable)."""
    d = _docs(spark, sf_dir)
    cat = (
        _winnow_postings(d)
        .groupBy("fp")
        .agg(
            F.countDistinct("doc_id").alias("df"),
            F.count(F.lit(1)).alias("n_occ"),
            F.min(F.struct("doc_id", "pos")).alias("first"),
        )
        .where(F.col("df") > MAX_FP_DF_SS)
        .select(
            "fp",
            F.col("df").cast("bigint").alias("df"),
            F.col("n_occ").cast("bigint").alias("n_occ"),
            F.col("first.doc_id").cast("bigint").alias("example_doc_id"),
            F.col("first.pos").cast("bigint").alias("example_pos"),
        )
    )
    return d.join(
        F.broadcast(cat), F.col("doc_id") == F.col("example_doc_id")
    ).select(
        "fp",
        "df",
        "n_occ",
        "example_doc_id",
        "example_pos",
        F.expr(f"substring(text, example_pos, {SS_K})").alias("example_gram"),
    )


def doc_boilerplate_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate density: the fraction of a document's
    winnowing fingerprints whose corpus doc-frequency exceeds
    MAX_FP_DF_SS — the standard quality-filter signal ('how much of this
    page is nav chrome / license header / cookie banner') built on the
    same postings as the catalog.

    Scale shape: postings persisted once for its two consumers; the
    high-df fingerprint set (the boilerplate tail, small by Zipf) is
    BROADCAST back for the membership flag; one groupBy(doc_id) ends it.
    The density division is BIGINT/BIGINT → the same IEEE double in both
    engines (both ≤ 2⁵³, exact operands)."""
    post = track_persist(_winnow_postings(_docs(spark, sf_dir)))
    boiler = (
        post.groupBy("fp")
        .agg(F.countDistinct("doc_id").alias("df"))
        .where(F.col("df") > MAX_FP_DF_SS)
        .select("fp", F.lit(1).alias("is_boiler"))
    )
    return (
        post.join(F.broadcast(boiler), "fp", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_fps"),
            F.sum(F.coalesce(F.col("is_boiler"), F.lit(0))).cast("bigint").alias("n_boiler_fps"),
        )
        .select(
            "doc_id",
            "n_fps",
            "n_boiler_fps",
            (F.col("n_boiler_fps") / F.col("n_fps")).alias("boiler_frac"),
        )
    )


# Edit-distance record linkage — the FUZZY-MATCH modality next to the
# set-similarity family: shingle Jaccard sees token overlap, winnowing
# sees shared runs, but neither scores character-level typo distance.
# Blocking keeps it join-shaped: keys pair only within a shared prefix
# block, df-capped like the LSH band buckets, so no all-pairs anywhere.

FUZZY_KEY_LEN = 16     # ASCII-projected prefix compared by edit distance
FUZZY_BLOCK_LEN = 6    # blocking key (first chars of the projection)
MAX_FUZZY_DF = 16      # stop-block cap (the MAX_BAND_DF discipline) —
                       # live at gate scale: hot blocks reach 23 docs
FUZZY_MAX_LEV = 3


def _fuzzy_pairs(keyed: DataFrame) -> DataFrame:
    """Shared blocking scaffold of both fuzzy twins: df-capped block
    self-join (_capped_pairs — the LSH stop-bucket rule, a viral prefix
    cannot go quadratic), scored with Spark's codepoint levenshtein,
    keeping pairs within FUZZY_MAX_LEV.  The twins differ only in the
    key projection they feed in."""
    _, pairs = _capped_pairs(keyed, ("block",), MAX_FUZZY_DF, carry=("key",))
    return (
        pairs.select(
            "doc_a",
            "doc_b",
            F.levenshtein("key_a", "key_b").cast("int").alias("lev"),
        )
        .where(F.col("lev") <= FUZZY_MAX_LEV)
    )


def dedup_fuzzy_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-duplicate candidates by bounded EDIT DISTANCE over blocked
    document-prefix keys — the record-linkage operator (typo-level
    near-identity that set-similarity misses).

    The key is the ASCII PROJECTION of the leading text: Spark's
    levenshtein counts CODEPOINTS while DuckDB's counts UTF-8 BYTES
    (measured: 'héllo'→'hello' is 1 vs 2), so this variant's
    exact-parity contract projects to the agreeing ASCII subset —
    identically in both engines (the unicode twin below closes the gap
    with a codepoint DP oracle).  Scale shape in _fuzzy_pairs: the
    O(k²) levenshtein runs on 16-char keys inside df-bounded blocks,
    never on document bodies."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # the ASCII projection is its own materialised column — referenced
    # twice (key + block), so CollapseProject keeps it and the regex
    # runs ONCE per row, not once per substring consumer
    asc = F.regexp_replace(F.substring(F.col("text"), 1, 64), "[^ -~]", "")
    return _fuzzy_pairs(
        d.select("doc_id", asc.alias("asc")).select(
            "doc_id",
            F.substring(F.col("asc"), 1, FUZZY_KEY_LEN).alias("key"),
            F.substring(F.col("asc"), 1, FUZZY_BLOCK_LEN).alias("block"),
        )
    )


def dedup_fuzzy_unicode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL-UNICODE twin of dedup_fuzzy_prefix: raw 16-char prefix
    keys with no ASCII projection.  Spark's levenshtein is codepoint-
    based; the oracle cannot use DuckDB's byte-based levenshtein(), so
    it re-implements codepoint edit distance as a Wagner-Fischer DP in
    PURE SQL — a nested list_reduce over the key codepoint arrays with a
    LIST-typed accumulator (the engine's _POLY seed-prepend fold
    discipline extended from a scalar to the DP row), verified equal to
    Spark's levenshtein on CJK/accented/empty cases.  Blocking + df-cap
    scale shape shared via _fuzzy_pairs."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return _fuzzy_pairs(
        d.select(
            "doc_id",
            F.substring(F.col("text"), 1, FUZZY_KEY_LEN).alias("key"),
            F.substring(F.col("text"), 1, FUZZY_BLOCK_LEN).alias("block"),
        )
    )
