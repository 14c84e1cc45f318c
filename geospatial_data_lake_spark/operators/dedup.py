"""Deduplication operators for training-data pipelines.

Four families, each a declared query over the ``documents`` table:

- exact dedup           (hash-groupBy)                      dd01 / dd02
- n-gram Jaccard        (token-set self-join)               dd03
- MinHash + LSH         (shingle->minhash->band->bucket)    dd04
- SimHash               (sign-bit sketch + pigeonhole join) dd05
- embedding near-dup    (cosine over vectors)               dd06
- exact substring spans (window-hash islands)               dd10
- incremental admission  (corpus-scan / band-index probe)    dd09 / dd11

Scale analysis (the design point is billions of documents):

- dd01/dd02: one hash-shuffle on a 16-byte digest — the cheapest possible
  distribution; partial aggregation collapses per-partition duplicates
  before the shuffle.
- dd03 (exact pairwise) is quadratic in documents-per-shared-token; it is
  the *oracle* for the LSH path, not the scale path.
- dd04 is the scale path: signature cost O(n_tokens * n_perms) per doc
  (all JVM: xxhash64 + min agg), candidate generation is an equi-join on
  band keys (shuffle on band hash — no quadratic blowup), and only
  candidates pay the exact-verify join. With b=16 bands of r=2 rows,
  P(candidate | j=0.8) = 1-(1-0.8^2)^16 ≈ 1-8e-8, so the verified output
  equals the exact-Jaccard pairs at threshold 0.8 almost surely — which is
  why dd04 can carry a SQL oracle at all.
- dd05: constant-size sketch per doc; the pigeonhole band join finds all
  pairs within Hamming distance <= 3 without comparing all pairs.
- dd06: brute-force here (the oracle); the LSH-bucketed variant for scale
  is ss02 in similarity.py.

Crossover note (measured on this fixture corpus): the synthetic documents
are near-dup *saturated* — background Jaccard between distinct token sets
averages 0.58 (p90 = 0.8), so ~9% of all pairs are genuine near-dups and
LSH band buckets run hot (avg occupancy ~71, 40M band collisions at
sf0.1). On such a corpus the exact inverted-index join (dd03's shape) is
cheaper than LSH — the output is inherently quadratic-dense and banding
only adds constant overhead. The 100 TB design point is the opposite
regime (background similarity ~0, collision rate ~b*j^r -> candidates
linear in true pairs), where the quadratic exact join is impossible and
banding is the only viable strategy.

dd04 therefore **dispatches**: a 256-doc deterministic sample estimates
the background similarity up front (one tiny job, ~32k pair evaluations
on the driver); saturated corpora (mean Jaccard >= 0.2, OR >= 2% of
sampled pairs near-dup at 0.5 — the dense-ISLANDS shape of multilingual
or sharded crawls, where the mean alone is blind) route to the
inverted-index exact join, sparse corpora — every real crawl — route to
MinHash+LSH banding. Both paths produce the identical exact-verified pair set at
threshold 0.8, so the SQL oracle is path-independent.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geospatial_data_lake_spark.operators.textops import (
    gram_starts as _gram_starts,
)
from geospatial_data_lake_spark.registry import register
from geospatial_data_lake_spark.session import free_local_checkpoint
from geospatial_data_lake_spark.tables import session_tmpdir, tables

N_PERM = 32  # minhash permutations
N_BANDS = 16  # bands of r=2 rows -> s-curve threshold ~0.55, steep at 0.8


def minhash_signature_aggs() -> list:
    """The N_PERM min-hash fold expressions over a ``word`` column —
    the ONE definition both dd04's self-join path and dd11's persisted
    band index derive signatures from (drift here would silently stop
    index probes from matching)."""
    return [
        F.min(F.xxhash64(F.lit(i), F.col("word"))).alias(f"h{i}")
        for i in range(N_PERM)
    ]


def band_keys_array():
    """The N_BANDS band-key expressions over signature columns h0..hN —
    shared for the same reason as minhash_signature_aggs."""
    return F.array(
        *[
            F.xxhash64(F.lit(b), F.col(f"h{2 * b}"), F.col(f"h{2 * b + 1}"))
            for b in range(N_BANDS)
        ]
    )


def _doc_words(documents: DataFrame) -> DataFrame:
    """Distinct (doc_id, word) pairs — the token-set representation."""
    return documents.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("word")
    )


def _allpairs_rep_verified(documents: DataFrame, threshold: float):
    """Rep-level core of the saturated-regime all-pairs verify: returns
    ``(verified, groups)`` — the (r1 < r2, jaccard) pairs over
    identical-set representatives and the (h -> rep, members) group
    table.  ``_expand_rep_pairs`` turns them into the doc-pair output;
    ``_star_edges`` turns them into a connectivity-equivalent edge set.

    The right shape for the SATURATED regime when the corpus fits a
    broadcast: the inverted-index word join materializes
    sum_w |docs(w)|^2 rows (~240M on the synthetic fixture at sf0.1 —
    measured 5.7 s) where this evaluates the pair space as straight
    codegen with no shuffle at all before the output.  A saturated
    corpus implies quadratic OUTPUT, so the regime is inherently
    bounded — the dispatcher guards on corpus size and falls back to
    the inverted index past the broadcast limit.

    r15 shape (guide §1.2 "the distributed algorithm first"): the pair
    space is walked over IDENTICAL-SET REPRESENTATIVES (one per
    distinct token set — 5000 docs -> 3935 reps on the sf0.1 fixture,
    a 1.6x pair-count cut that grows with real-corpus duplication),
    and the expensive ``array_intersect`` only runs behind three
    exact-safe prefilters, ordered cheapest-first inside the join
    condition so codegen short-circuits:

    1. ``r1 < r2`` (one long compare — halves the evaluated space;
       the pre-r15 plan evaluated the intersect BEFORE this test);
    2. the size-ratio cut (J <= min|A|,|B|/max|A|,|B| — two O(1)
       ``size`` calls);
    3. the PPJoin prefix filter (``arrays_overlap`` on the provably
       sufficient prefix slices — O(prefix^2) on ~3-element arrays).

    All three are proven upper bounds (no recall loss: see
    ``_jaccard_size_ratio_ok`` / ``_ppjoin_prefix_overlap``), and
    group expansion restores the exact per-doc pair set: cross-group
    pairs inherit their reps' jaccard verbatim (identical sets), and
    intra-group pairs are jaccard 1.0 >= any threshold by definition.
    Measured on the sf0.1 fixture: dd04's verify 3.3 s -> ~0.6 s
    steady-state, byte-identical output (oracle replays)."""
    from fractions import Fraction

    fr = Fraction(threshold).limit_denominator(1000)
    # PPJoin wants t/(1+t); size-ratio wants t itself.
    pp = fr / (1 + fr)
    docs = documents.select(
        "doc_id",
        F.array_sort(
            F.array_distinct(F.transform(F.split("text", " "), lambda w: F.xxhash64(w)))
        ).alias("h"),
    )
    groups = docs.groupBy("h").agg(
        F.min("doc_id").alias("rep"), F.collect_list("doc_id").alias("members")
    )
    # The probe side of the pair walk must stay spread: the rep table is
    # tiny in BYTES (AQE would coalesce the post-groupBy exchange to one
    # partition) but each row fans out to |reps| condition evaluations —
    # an explicit rep-keyed repartition pins the fan-out across the
    # cluster, same reasoning as the LSH band walk below (step 3a).
    n_part = int(
        documents.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    a = groups.repartition(n_part, "rep").select(
        F.col("rep").alias("r1"), F.col("h").alias("h1")
    )
    b = groups.select(F.col("rep").alias("r2"), F.col("h").alias("h2"))
    common = F.size(F.array_intersect("h1", "h2"))
    jaccard = common / (F.size("h1") + F.size("h2") - common)
    cond = (
        (F.col("r1") < F.col("r2"))
        & _jaccard_size_ratio_ok("h1", "h2", fr.numerator, fr.denominator)
        & _ppjoin_prefix_overlap("h1", "h2", pp.numerator, pp.denominator)
        & (jaccard >= threshold)
    )
    verified = (
        a.join(F.broadcast(b), cond)
        .select("r1", "r2", F.round(jaccard, 4).alias("jaccard"))
    )
    return verified, groups


def _allpairs_jaccard_pairs(documents: DataFrame, threshold: float) -> DataFrame:
    """Doc-level pair output of the saturated-regime all-pairs verify:
    rep-level verify (``_allpairs_rep_verified``) expanded back to doc
    pairs through group membership (``_expand_rep_pairs``)."""
    verified, groups = _allpairs_rep_verified(documents, threshold)
    return _expand_rep_pairs(verified, groups)


def _expand_rep_pairs(verified: DataFrame, groups: DataFrame) -> DataFrame:
    """Expand verified rep pairs back to doc pairs through group
    membership (identical sets share their rep's jaccard; intra-group
    pairs are exact duplicates of each other's token set -> jaccard
    1.0).  Shared by the all-pairs and LSH paths of dd03/dd04."""
    m1 = groups.select(F.col("rep").alias("r1"), F.explode("members").alias("e1"))
    m2 = groups.select(F.col("rep").alias("r2"), F.explode("members").alias("e2"))
    inter = (
        verified.join(F.broadcast(m1), "r1")
        .join(F.broadcast(m2), "r2")
        .select(
            F.least("e1", "e2").alias("d1"),
            F.greatest("e1", "e2").alias("d2"),
            "jaccard",
        )
    )
    intra = (
        groups.filter(F.size("members") > 1)
        .select(F.explode("members").alias("e1"), F.col("members").alias("ms"))
        .select("e1", F.explode("ms").alias("e2"))
        .filter(F.col("e1") < F.col("e2"))
        .select(
            F.col("e1").alias("d1"),
            F.col("e2").alias("d2"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return inter.unionByName(intra).select(
        "d1", "d2", F.round("jaccard", 4).alias("jaccard")
    )


def _star_edges(verified: DataFrame, groups: DataFrame) -> DataFrame:
    """A connectivity-EQUIVALENT edge set for the doc-pair graph
    ``_expand_rep_pairs`` would produce, without the quadratic clique
    expansion: verified rep pairs plus one (rep, member) star edge per
    non-rep group member.

    Equivalence proof (components over doc_ids are identical):

    - every expanded edge maps to a star-graph path — an intra-group
      pair (e1, e2) to e1—rep—e2, a cross-group pair (e1 in G1, e2 in
      G2) to e1—r1—r2—e2;
    - every star edge maps to an expanded edge — (rep, member) IS an
      intra-group pair (jaccard 1.0), and a verified (r1, r2) IS a
      cross-group doc pair (reps are members of their own groups);
    - the NODE sets match: members of a >=2-group always appear on both
      sides (star edges here, intra pairs there), a singleton-group doc
      appears on both sides iff its rep has a verified cross pair.

    So connected components, component minima (the group labels) and
    group sizes computed over this edge set equal those over the full
    pair expansion — at ~|verified| + ~|docs in dup groups| edges
    instead of sum-of-squared-clique-sizes (2.97M -> ~7k on the sf0.1
    fixture)."""
    rep_edges = verified.select(
        F.col("r1").alias("d1"), F.col("r2").alias("d2")
    )
    star = (
        groups.filter(F.size("members") > 1)
        .select(F.col("rep").alias("d1"), F.explode("members").alias("d2"))
        .filter(F.col("d1") != F.col("d2"))
    )
    return rep_edges.unionByName(star)


# docs beyond which the all-pairs broadcast verify loses to the
# inverted-index join.  The binding constraint is the PAIR COUNT (the
# verify evaluates C(n,2) array intersections), not broadcast size:
# 10k docs = 50M pairs is the measured knee; at 50k docs (1.25B pairs)
# the inverted join's candidates-sharing-a-word stream is far smaller.
_ALLPAIRS_MAX_DOCS = 10_000


def _exact_jaccard_pairs(documents: DataFrame, threshold: float) -> DataFrame:
    """All (d1 < d2) pairs with token-set Jaccard >= threshold.

    The Jaccard value is a ratio of integers, so both engines compute the
    identical double — the threshold filter is cross-engine deterministic.

    r15 (guide §2.3 "shuffle fewer bytes"): each word row carries its
    document's set size (one broadcast hash join before the inverted
    join), so the exact-safe size-ratio cut (J <= min/max — see
    ``_jaccard_size_ratio_ok``) runs INSIDE the pair join and
    non-qualifying pairs never reach the pair-count shuffle; the sizes
    then ride the groupBy keys (functionally dependent on the doc ids),
    which deletes the two post-aggregation size joins outright.  Output
    unchanged: the cut is a proven upper bound and the jaccard
    expression is the identical integer ratio."""
    from fractions import Fraction

    fr = Fraction(threshold).limit_denominator(1000)
    words = _doc_words(documents)
    sizes = words.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    ws = words.join(F.broadcast(sizes), "doc_id")
    a = ws.alias("a")
    b = ws.alias("b")
    ratio_ok = (
        F.col("a.sz") * fr.denominator >= F.col("b.sz") * fr.numerator
    ) & (F.col("b.sz") * fr.denominator >= F.col("a.sz") * fr.numerator)
    return (
        a.join(
            b,
            (F.col("a.word") == F.col("b.word"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & ratio_ok,
        )
        .groupBy(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.col("a.sz").alias("sz1"),
            F.col("b.sz").alias("sz2"),
        )
        .agg(F.count(F.lit(1)).alias("common"))
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("sz1") + F.col("sz2") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", F.round("jaccard", 4).alias("jaccard"))
    )


@register(
    "dd01_exact_dedup_summary",
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique,
               CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS n_dups
        FROM documents
    """,
    tags=("dedup", "exact"),
)
def dd01_exact_dedup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: corpus-level duplicate census. One
    shuffle of 16-byte digests regardless of document size.

    r15: the census digest is xxhash64 (an order of magnitude faster
    than md5 on long text); the outputs are COUNTS over the digest
    equality structure, so they are unchanged while the oracle's md5
    replays the same distinctness.

    r16: the digest is a TWO-SEED xxhash64 pair (128 bits).  A single
    64-bit digest is not collision-safe at the 100 TB design point
    (~1e9 documents -> ~3% birthday odds of one wrong dedup decision);
    two independent seeds restore md5's collision class at ~unchanged
    hash throughput (the distinct-shuffle key is 16 bytes vs md5's
    32-char string).  ``count(DISTINCT a, b)`` counts distinct PAIRS —
    the same equality classes as distinct single digests, since
    xxhash64 never returns NULL (null-safe hash of the seed), so no
    row is dropped by the multi-column distinct's null rule."""
    t = tables(spark, sf_dir)
    digest = (F.xxhash64("text"), F.xxhash64(F.lit(1), "text"))
    return t.documents.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(*digest).alias("n_unique"),
        (F.count(F.lit(1)) - F.countDistinct(*digest)).alias("n_dups"),
    )


@register(
    "dd02_fingerprint_groups",
    oracle="""
        WITH fp AS (
            SELECT doc_id,
                   md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
                       AS fingerprint
            FROM documents
        )
        SELECT fingerprint,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(min(doc_id) AS BIGINT) AS keeper_doc_id
        FROM fp
        GROUP BY fingerprint
        HAVING count(*) > 1
    """,
    tags=("dedup", "fingerprint"),
)
def dd02_fingerprint_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-form dedup: token-set fingerprint (sorted distinct words ->
    md5) groups docs that differ only by word order/repetition; the min
    doc_id is the kept representative — the standard keep-one policy."""
    t = tables(spark, sf_dir)
    fp = t.documents.select(
        "doc_id",
        F.md5(
            F.concat_ws(" ", F.array_sort(F.array_distinct(F.split("text", " "))))
        ).alias("fingerprint"),
    )
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("keeper_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


def _sampled_jaccard_stats(
    documents: DataFrame, n_sample: int = 256
) -> tuple[float, float]:
    """(mean pairwise Jaccard, fraction of pairs with Jaccard >= 0.5)
    over a deterministic hash-based sample.

    The sample is picked by ``xxhash64(doc_id) % k == 0`` (stable across
    runs and partitionings, unlike ``limit`` without order), its hashed
    token sets are collected (bounded: <= n_sample rows), and both
    statistics are computed driver-side — ~32k set intersections,
    milliseconds. This is the measurement a production dedup driver runs
    before choosing between LSH banding (sparse regime) and the
    inverted-index exact join (saturated regime).

    Two statistics because dense corpora come in two shapes: uniformly
    saturated (high MEAN — the synthetic fixture) and ISLANDS of
    saturation in a sparse sea (multilingual / sharded crawls: dense
    within a shard, ~0 across — high FRACTION, low mean).  Both imply
    near-quadratic OUTPUT, where banding is pure overhead; dispatching
    on the mean alone routed the island shape to LSH, measured 2.6x
    slower than the inverted join at x10 scale (tools/scale_stress)."""
    if n_sample > 512:  # the driver pair loop below is O(n_sample^2)
        raise ValueError(
            f"n_sample={n_sample} would make the driver-side pair loop "
            f"quadratic past its design point; keep n_sample <= 512 "
            f"(~131k set intersections)"
        )
    hashed = documents.select(
        F.col("doc_id"),
        F.array_distinct(
            F.transform(F.split("text", " "), lambda w: F.xxhash64(w))
        ).alias("hs"),
    )
    # aim for ~n_sample rows whatever the corpus size
    total = documents.count()
    k = max(1, total // n_sample)
    sample = (
        hashed.filter(F.pmod(F.xxhash64(F.col("doc_id").cast("string")), k) == 0)
        .orderBy("doc_id")
        .limit(n_sample)
        .collect()
    )
    sets = [frozenset(r.hs) for r in sample if r.hs]
    if len(sets) < 2:
        return 0.0, 0.0
    tot = 0.0
    n_hi = 0
    n_pairs = 0
    for i in range(len(sets)):
        for j in range(i + 1, len(sets)):
            inter = len(sets[i] & sets[j])
            jac = inter / (len(sets[i]) + len(sets[j]) - inter)
            tot += jac
            if jac >= 0.5:
                n_hi += 1
            n_pairs += 1
    return tot / n_pairs, n_hi / n_pairs


def _sampled_background_jaccard(documents: DataFrame, n_sample: int = 256) -> float:
    """Mean sampled pairwise Jaccard (see ``_sampled_jaccard_stats``)."""
    return _sampled_jaccard_stats(documents, n_sample)[0]


def _is_saturated(documents: DataFrame) -> bool:
    """The dispatch predicate shared by dd04 and the incremental
    family: saturated when the sampled MEAN Jaccard >= 0.2 (uniformly
    dense) OR >= 2% of sampled pairs are near-dups at 0.5 (dense
    islands) — either way the pair OUTPUT is near-quadratic and the
    exact inverted join beats banding."""
    mean, frac = _sampled_jaccard_stats(documents)
    return mean >= 0.2 or frac >= 0.02


_JACCARD_ORACLE = """
    WITH w AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM w GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
        FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT d1, d2,
           round(common * 1.0 / (s1.sz + s2.sz - common), 4) AS jaccard
    FROM pairs
    JOIN sizes s1 ON d1 = s1.doc_id
    JOIN sizes s2 ON d2 = s2.doc_id
    WHERE common * 1.0 / (s1.sz + s2.sz - common) >= {threshold}
"""


@register(
    "dd03_jaccard_pairs",
    oracle=_JACCARD_ORACLE.format(threshold=0.9),
    tags=("dedup", "jaccard"),
)
def dd03_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram (token-set) Jaccard near-dup pairs at >= 0.9 —
    exhaustive by definition (dd04 is the LSH path that scales), but the
    exhaustive form still picks its physical shape: broadcast all-pairs
    array-intersect while the set table broadcasts (65 s -> ~3 s at
    sf0.1 vs the inverted-index word join), the word join past that
    bound, and spread() so a single-row-group scan never serializes the
    pair loop."""
    from geospatial_data_lake_spark.tables import spread

    t = tables(spark, sf_dir)
    raw = spread(spark, t.documents)
    if raw.count() <= _ALLPAIRS_MAX_DOCS:
        return _allpairs_jaccard_pairs(raw, 0.9)
    return _exact_jaccard_pairs(raw, 0.9)


@register(
    "dd04_minhash_lsh_pairs",
    oracle=_JACCARD_ORACLE.format(threshold=0.8),
    tags=("dedup", "minhash", "lsh"),
)
def dd04_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup detection, exact-verified at threshold 0.8,
    with regime dispatch.

    **Dispatch** (module docstring, "Crossover note"): a 256-doc sample
    estimates the background similarity. Saturated corpora (mean >= 0.2
    — this synthetic fixture measures 0.58 — or a >= 2% near-dup pair
    fraction, the dense-islands shape) route to the inverted-index
    exact join, where output density makes banding pure overhead; sparse
    corpora (every real crawl) take the LSH path below. Both produce the
    identical exact pair set at 0.8, so the oracle is path-independent
    and the recall unit tests pin the LSH path explicitly.

    Production-shaped LSH pipeline (the order used by large training-data
    dedup systems):

    1. **Exact-set collapse first**: docs with identical token sets are
       grouped (one hash shuffle); only one representative per distinct
       set enters the sketching stage. Near-dup cost then scales with
       *distinct* content, not raw row count — on heavily duplicated
       crawls this alone removes most of the work.
    2. **MinHash signatures** over representatives: 32 permutations as
       xxhash64(salt, word) min-aggregated — all JVM expressions, one
       shuffle keyed by rep.
    3. **LSH banding**: 16 bands of r=2 rows -> band-key equi-self-join
       for candidates. Miss probability at j>=0.8 is (1-0.8^2)^16 < 1e-7,
       so the verified output equals the exact-Jaccard pairs (the SQL
       oracle) almost surely.
    4. **Exact verify via set arrays**: each candidate pair is checked
       with size(array_intersect)/size(array_union) against the
       broadcast (rep -> token array) table — per-pair codegen work, no
       word-expansion shuffle (a candidate x words join would shuffle
       |candidates| x |doc| rows; the array verify shuffles nothing).
    5. **Group expansion**: verified rep pairs fan back out to doc pairs
       through the membership lists (broadcast joins); identical-set
       groups contribute their intra-group pairs at jaccard = 1.0.
    """
    from geospatial_data_lake_spark.tables import spread

    t = tables(spark, sf_dir)
    raw = spread(spark, t.documents)
    if _is_saturated(raw):
        # saturated: output is quadratic anyway; verify all pairs via
        # broadcast array-intersect while the set table is broadcastable,
        # else the inverted-index word join (same exact pair set)
        if raw.count() <= _ALLPAIRS_MAX_DOCS:
            return _allpairs_jaccard_pairs(raw, 0.8)
        return _exact_jaccard_pairs(raw, 0.8)
    return _minhash_lsh_pairs(spark, raw)


def _dd04_connectivity_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd04's pair graph reduced to a connectivity-EQUIVALENT edge set
    for consumers that only need COMPONENTS (dd07/dd15): the same
    regime dispatch as ``dd04_minhash_lsh_pairs``, but the rep-level
    verify feeds ``_star_edges`` (verified rep pairs + membership
    stars — equivalence proof there) instead of the quadratic clique
    expansion.  On the sf0.1 fixture this is 699,604 edges instead of
    the 2,968,398 expanded pairs dd07 previously materialized,
    checkpointed and contracted (4.2×: the verified rep-pair graph is
    itself dense on this saturated fixture; the clique expansion
    multiplies it by the duplicate-group sizes) — and the saving GROWS
    with corpus duplication, which is
    exactly what a near-dup-saturated corpus maximizes (guide §1.2:
    don't compute things you throw away).  The inverted-index fallback
    (saturated AND beyond the broadcast bound) has no rep collapse, so
    it returns the full pair set unchanged there."""
    from geospatial_data_lake_spark.tables import spread

    t = tables(spark, sf_dir)
    raw = spread(spark, t.documents)
    if _is_saturated(raw):
        if raw.count() <= _ALLPAIRS_MAX_DOCS:
            return _star_edges(*_allpairs_rep_verified(raw, 0.8))
        return _exact_jaccard_pairs(raw, 0.8).select("d1", "d2")
    return _star_edges(*_minhash_rep_verified(spark, raw))


def _minhash_lsh_pairs(spark: SparkSession, raw: DataFrame) -> DataFrame:
    """The sparse-regime LSH path of dd04 (see dd04's docstring):
    rep-level verify + membership expansion."""
    verified, groups = _minhash_rep_verified(spark, raw)
    return _expand_rep_pairs(verified, groups)


def _minhash_rep_verified(spark: SparkSession, raw: DataFrame):
    """Rep-level core of the LSH path: returns ``(verified, groups)``
    exactly like ``_allpairs_rep_verified`` (same shapes, same
    downstream consumers)."""
    docs = raw.select(
        "doc_id", F.array_sort(F.array_distinct(F.split("text", " "))).alias("toks")
    )
    # 1. collapse identical token sets. NOTE: deliberately NOT cached —
    # a cached 4k-row relation makes Catalyst broadcast the band table and
    # collapse the pair-explosion join onto too few tasks (measured 6x
    # slower); recomputing the small groupBy per branch is far cheaper.
    groups = docs.groupBy("toks").agg(
        F.min("doc_id").alias("rep"), F.collect_list("doc_id").alias("members")
    )
    reps = groups.select("rep", "toks")

    # 2. minhash signatures over representatives only
    words = reps.select("rep", F.explode("toks").alias("word"))
    sig = words.groupBy("rep").agg(*minhash_signature_aggs())

    # 3. band keys + candidate self-join. Three plan decisions, all made
    # because the join's cost is its OUTPUT size, which Catalyst can't see
    # from the (small) input stats:
    #   (a) the build side broadcasts and the probe side spreads evenly by
    #       rep — partitioning by band key would put each giant LSH bucket
    #       on one task (skew);
    #   (b) each row carries its full band-key array (16 longs) so a pair
    #       agreeing on several bands is emitted only from the FIRST one —
    #       a flat 15-term codegen predicate replaces a distinct() shuffle
    #       of the ~7x-duplicated pair stream;
    #   (c) only rep ids + band arrays ride through the explosion; token
    #       payloads attach later from a broadcast side table.
    bands_arr = band_keys_array()
    band_long = sig.select("rep", bands_arr.alias("bands")).select(
        "rep", "bands", F.posexplode("bands").alias("band", "key")
    )
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    a = band_long.repartition(n_part, "rep").select(
        F.col("rep").alias("r1"), F.col("bands").alias("bd1"), "band", "key"
    )
    b = band_long.select(
        F.col("rep").alias("r2"), F.col("bands").alias("bd2"), "band", "key"
    )
    earlier_band_matched = F.lit(False)
    for j in range(N_BANDS - 1):
        earlier_band_matched = earlier_band_matched | (
            (F.lit(j) < F.col("band"))
            & (F.element_at("bd1", j + 1) == F.element_at("bd2", j + 1))
        )
    candidates = (
        a.join(F.broadcast(b), ["band", "key"])
        .filter(F.col("r1") < F.col("r2"))
        .filter(~earlier_band_matched)
        .select("r1", "r2")
    )

    # 4. exact verify: set jaccard via intersection of 64-bit-hashed token
    # arrays (standard no-collision assumption) attached from the broadcast
    # (rep -> htoks) side table — per-pair codegen work, no word-expansion
    # shuffle, and integer compares instead of string compares
    htok = reps.select(
        "rep", F.array_sort(F.transform("toks", lambda w: F.xxhash64(w))).alias("h")
    )
    t1 = htok.select(F.col("rep").alias("r1"), F.col("h").alias("h1"))
    t2 = htok.select(F.col("rep").alias("r2"), F.col("h").alias("h2"))
    n_common = F.size(F.array_intersect("h1", "h2"))
    verified = (
        candidates.join(F.broadcast(t1), "r1")
        .join(F.broadcast(t2), "r2")
        .withColumn("nc", n_common)
        .withColumn(
            "jaccard", F.col("nc") / (F.size("h1") + F.size("h2") - F.col("nc"))
        )
        .filter(F.col("jaccard") >= 0.8)
        .select("r1", "r2", "jaccard")
    )
    return verified, groups


# dd07's oracle: connected components via UNROLLED min-label propagation
# (12 fixed rounds + a convergence guard) instead of a recursive-CTE
# transitive closure.  The closure (`reach` = all reachable pairs) is
# quadratic per component — on a near-dup-saturated corpus components
# are near-cliques and the oracle blew past 40 CPU-min at sf0.1, which
# forced a documented waiver.  Min-label is linear per round (one join
# against the edge list), mirrors the engine's own fixpoint, and the
# guard makes an unconverged unroll return ZERO rows — a LOUD hash
# mismatch, never a silent false pass.  12 rounds cover eccentricity
# <= 12 from each component's min node; near-dup clusters settle in
# 2-3.
_DD07_ROUNDS = 12
_DD07_LEVELS = """
        l1 AS MATERIALIZED (
            SELECT l.doc_id,
                   least(l.label, coalesce(min(n.label), l.label)) AS label
            FROM l0 l
            LEFT JOIN edges e ON l.doc_id = e.u
            LEFT JOIN l0 n ON e.v = n.doc_id
            GROUP BY l.doc_id, l.label
        ),
        l2 AS MATERIALIZED (
            SELECT l.doc_id,
                   least(l.label, coalesce(min(n.label), l.label)) AS label
            FROM l1 l
            LEFT JOIN edges e ON l.doc_id = e.u
            LEFT JOIN l1 n ON e.v = n.doc_id
            GROUP BY l.doc_id, l.label
        ),
        l3 AS MATERIALIZED (
            SELECT l.doc_id,
                   least(l.label, coalesce(min(n.label), l.label)) AS label
            FROM l2 l
            LEFT JOIN edges e ON l.doc_id = e.u
            LEFT JOIN l2 n ON e.v = n.doc_id
            GROUP BY l.doc_id, l.label
        ),
        l4 AS MATERIALIZED (
            SELECT l.doc_id,
                   least(l.label, coalesce(min(n.label), l.label)) AS label
            FROM l3 l
            LEFT JOIN edges e ON l.doc_id = e.u
            LEFT JOIN l3 n ON e.v = n.doc_id
            GROUP BY l.doc_id, l.label
        ),
        l5 AS MATERIALIZED (
            SELECT l.doc_id,
                   least(l.label, coalesce(min(n.label), l.label)) AS label
            FROM l4 l
            LEFT JOIN edges e ON l.doc_id = e.u
            LEFT JOIN l4 n ON e.v = n.doc_id
            GROUP BY l.doc_id, l.label
        ),
        l6 AS MATERIALIZED (
            SELECT l.doc_id,
                   least(l.label, coalesce(min(n.label), l.label)) AS label
            FROM l5 l
            LEFT JOIN edges e ON l.doc_id = e.u
            LEFT JOIN l5 n ON e.v = n.doc_id
            GROUP BY l.doc_id, l.label
        ),
        l7 AS MATERIALIZED (
            SELECT l.doc_id,
                   least(l.label, coalesce(min(n.label), l.label)) AS label
            FROM l6 l
            LEFT JOIN edges e ON l.doc_id = e.u
            LEFT JOIN l6 n ON e.v = n.doc_id
            GROUP BY l.doc_id, l.label
        ),
        l8 AS MATERIALIZED (
            SELECT l.doc_id,
                   least(l.label, coalesce(min(n.label), l.label)) AS label
            FROM l7 l
            LEFT JOIN edges e ON l.doc_id = e.u
            LEFT JOIN l7 n ON e.v = n.doc_id
            GROUP BY l.doc_id, l.label
        ),
        l9 AS MATERIALIZED (
            SELECT l.doc_id,
                   least(l.label, coalesce(min(n.label), l.label)) AS label
            FROM l8 l
            LEFT JOIN edges e ON l.doc_id = e.u
            LEFT JOIN l8 n ON e.v = n.doc_id
            GROUP BY l.doc_id, l.label
        ),
        l10 AS MATERIALIZED (
            SELECT l.doc_id,
                   least(l.label, coalesce(min(n.label), l.label)) AS label
            FROM l9 l
            LEFT JOIN edges e ON l.doc_id = e.u
            LEFT JOIN l9 n ON e.v = n.doc_id
            GROUP BY l.doc_id, l.label
        ),
        l11 AS MATERIALIZED (
            SELECT l.doc_id,
                   least(l.label, coalesce(min(n.label), l.label)) AS label
            FROM l10 l
            LEFT JOIN edges e ON l.doc_id = e.u
            LEFT JOIN l10 n ON e.v = n.doc_id
            GROUP BY l.doc_id, l.label
        ),
        l12 AS MATERIALIZED (
            SELECT l.doc_id,
                   least(l.label, coalesce(min(n.label), l.label)) AS label
            FROM l11 l
            LEFT JOIN edges e ON l.doc_id = e.u
            LEFT JOIN l11 n ON e.v = n.doc_id
            GROUP BY l.doc_id, l.label
        )
"""


@register(
    "dd07_duplicate_groups",
    oracle="""
        WITH p AS MATERIALIZED (""" + _JACCARD_ORACLE.format(threshold=0.8) + """
        ),
        edges AS MATERIALIZED (
            SELECT d1 AS u, d2 AS v FROM p
            UNION ALL
            SELECT d2, d1 FROM p
        ),
        l0 AS MATERIALIZED (
            SELECT u AS doc_id, u AS label
            FROM (SELECT DISTINCT u FROM edges)
        ),
""" + _DD07_LEVELS + f""",
        unconverged AS (
            SELECT count(*) AS c
            FROM l{_DD07_ROUNDS} a
            JOIN l{_DD07_ROUNDS - 1} b USING (doc_id)
            WHERE a.label <> b.label
        )
        SELECT doc_id, label AS group_id,
               CAST(count(*) OVER (PARTITION BY label) AS BIGINT)
                   AS group_size
        FROM l{_DD07_ROUNDS}
        WHERE (SELECT c FROM unconverged) = 0
    """,
    tags=("dedup", "graph", "connected-components"),
)
def dd07_duplicate_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate *group* resolution: connected components over the
    dd04 pair graph, each doc labeled with its group's min doc_id — the
    keep-one-representative step that turns pairwise matches into a
    dedup decision.

    Spark has no recursive SQL, so components come from alternating
    large-star/small-star contraction (``_cc_alternating_stars`` —
    Kiveris et al. 2014): each round points high nodes at their
    neighborhood minimum, SHRINKING the edge set toward per-component
    stars, so round cost tracks the contracted graph instead of paying
    the full pair graph for O(diameter) rounds the way plain min-label
    propagation did (the r12 x100 fixture — duplication-heavy, clique-
    dense — outran the harness on that schedule; the first large-star
    collapses exactly that mass).  The result labeling (component min)
    is schedule-independent, so the DuckDB oracle's unrolled min-label
    propagation still gates it exactly.

    r15: the contraction input is ``_dd04_connectivity_edges`` — the
    verified rep pairs plus membership-star edges — instead of dd04's
    full doc-pair expansion, which on a duplication-saturated corpus
    is dominated by intra-clique pairs that add nothing to
    connectivity (equivalence proof at ``_star_edges``; components,
    labels and group sizes are identical, and the DuckDB oracle still
    computes over the full pair list — a flaw in the equivalence
    argument would be a loud hash mismatch, not silent drift).
    Measured at sf0.1: round 0 materializes 699,604 edges instead of
    2,968,398 (see OPTIMIZATION_r15.md for the timing evidence).
    """
    pairs = _dd04_connectivity_edges(spark, sf_dir)
    labels = _cc_alternating_stars(pairs)
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("group_size"))
    return labels.join(F.broadcast(sizes), "label").select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("group_id"),
        "group_size",
    )


# Shared checkpoint-release helper (see session.free_local_checkpoint);
# re-exported under the historical name for the round's gate tests.
_free_checkpoint = free_local_checkpoint


def _verify_component_labels(orig: DataFrame, labels: DataFrame) -> None:
    """Exactness gate for a connected-components labeling: every
    original edge's endpoints must BOTH be labeled and share a label,
    and the labeled node set must be exactly the edge-endpoint set.
    LEFT joins + null checks — an endpoint MISSING from the label set
    fails the gate instead of silently dropping its edges from the
    check (an inner join would); the cardinality assert additionally
    rejects phantom labeled nodes.  Raises on any violation — the gate
    can never bless a wrong labeling by omission."""
    la = labels.select(F.col("node").alias("a"), F.col("label").alias("la"))
    lb = labels.select(F.col("node").alias("b"), F.col("label").alias("lb"))
    bad = (
        orig.join(la, "a", "left")
        .join(lb, "b", "left")
        .filter(
            F.col("la").isNull()
            | F.col("lb").isNull()
            | (F.col("la") != F.col("lb"))
        )
        .count()
    )
    if bad:
        raise RuntimeError(
            f"connected-components verification failed: {bad} original "
            "edges have unlabeled or label-mismatched endpoints "
            "(unconverged contraction, or nodes dropped from the "
            "labeling?)"
        )
    n_nodes = (
        orig.select(F.col("a").alias("n"))
        .unionByName(orig.select(F.col("b").alias("n")))
        .distinct()
        .count()
    )
    n_labeled = labels.count()
    if n_nodes != n_labeled:
        raise RuntimeError(
            "connected-components verification failed: labeling covers "
            f"{n_labeled} nodes but the edge set has {n_nodes} distinct "
            "endpoints"
        )


def _cc_alternating_stars(
    pairs: DataFrame, max_rounds: int = 25
) -> DataFrame:
    """EXACT connected components over an edge list via alternating
    large-star / small-star contraction (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond"): large-star
    attaches every neighbor LARGER than a node to its neighborhood
    minimum, small-star folds the smaller neighbors onto it.  Both
    steps preserve connectivity and monotonically contract the graph
    toward one star per component, centered at the component min —
    convergence in O(log^2 n) rounds worst-case, 2-3 on the
    clique-heavy graphs near-dup corpora produce, with PER-ROUND cost
    proportional to the SHRINKING edge set (plain min-label
    propagation pays the full pair graph every round for O(diameter)
    rounds — the difference between fitting and outrunning a
    duplication-heavy x100 fixture).

    The pair graph is orders of magnitude smaller than the corpus
    (only near-dup members appear); 8 partitions keep the per-round
    shuffles latency-bound rather than task-overhead-bound, and
    ``localCheckpoint`` truncates lineage so round N never replays
    rounds 1..N-1.  Convergence is detected by a count+hash signature;
    the final labeling is then VERIFIED against the original edges —
    zero label-mismatched endpoints.  Uniform labels per component
    force exactness: a label only ever takes node-id values from
    inside its component and never sinks below the component min m,
    while m's own label can only be m — so uniformity pins every
    member to exactly m.  An unconverged or hash-collided run RAISES;
    it can never return a wrong answer.

    Returns (node, label) for every node with at least one edge."""
    und = (
        pairs.select(
            F.least("d1", "d2").alias("a"), F.greatest("d1", "d2").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .repartition(8, "a")
        .localCheckpoint(eager=True)
    )
    orig = und
    prev_sig = None
    converged = False
    for _ in range(max_rounds):
        # large-star: v in Γ(u), v > u  attaches to  m(u) = min(Γ(u) ∪ {u})
        nbr = und.select(
            F.col("a").alias("u"), F.col("b").alias("v")
        ).unionByName(und.select(F.col("b").alias("u"), F.col("a").alias("v")))
        m = (
            nbr.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("mv", F.col("u")).alias("m"))
        )
        ls = (
            nbr.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("x"), F.col("m").alias("y"))
            .filter(F.col("x") != F.col("y"))
        )
        half = ls.select(
            F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
        ).distinct()
        # small-star: the ≤u neighborhood (plus u) folds onto its min
        nbr2 = half.select(
            F.col("a").alias("u"), F.col("b").alias("v")
        ).unionByName(
            half.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        s = nbr2.filter(F.col("v") < F.col("u"))
        m2 = s.groupBy("u").agg(F.min("v").alias("m"))
        ss = (
            s.join(m2, "u")
            .select(F.col("v").alias("x"), F.col("m").alias("y"))
            .filter(F.col("x") != F.col("y"))
            .unionByName(
                m2.select(F.col("u").alias("x"), F.col("m").alias("y"))
            )
        )
        new_und = (
            ss.select(
                F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .repartition(8, "a")
            .localCheckpoint(eager=True)
        )
        # the superseded round's checkpoint blocks are dead the moment
        # the next round is eagerly materialized — free them so a long
        # session of repeated runs doesn't accumulate block-manager
        # state (orig is round 0: still needed by the exactness gate)
        if und is not orig:
            _free_checkpoint(und)
        und = new_und
        sig_row = und.agg(
            F.count(F.lit(1)).alias("n"),
            # xor-fold of per-edge hashes: order-independent and
            # overflow-free under ANSI (edges are distinct pairs)
            F.coalesce(
                F.expr("bit_xor(xxhash64(a, b))"), F.lit(0)
            ).alias("h"),
        ).first()
        sig = (sig_row.n, sig_row.h)
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        raise RuntimeError(
            f"connected components did not converge in {max_rounds} "
            "alternating star rounds"
        )
    # star edges (child, center): center < child at convergence
    labels = (
        und.select(F.col("b").alias("node"), F.col("a").alias("label"))
        .unionByName(
            und.select(F.col("a").alias("node"), F.col("a").alias("label"))
        )
        .groupBy("node")
        .agg(F.min("label").alias("label"))
        .localCheckpoint(eager=True)
    )
    # exactness gate over the ORIGINAL edges: every edge's endpoints
    # must be labeled and share a label (uniformity ⇒ component-min
    # labeling; see docstring), and the labeled node set must equal the
    # endpoint set.  LEFT joins + null checks + cardinality — loud
    # failure, never silence (see _verify_component_labels).
    _verify_component_labels(orig, labels)
    # everything but the returned labels is dead now: free the final
    # round's contraction and the round-0 original edges
    if und is not orig:
        _free_checkpoint(und)
    _free_checkpoint(orig)
    return labels


@register(
    "dd05_simhash_pairs",
    # The pigeonhole band join is COMPLETE for hamming <= 3 (4 bands of 8
    # bits: <=3 flipped bits leave >=1 band untouched), so the banded
    # output equals the quadratic definition — which IS SQL-expressible
    # once the token hash is engine-portable. Tokens hash through
    # md5-prefix (identical integer in Spark conv() and DuckDB '0x' cast,
    # verified), so both engines derive bit-identical sketches and the
    # pair set hash-matches. Production would swap md5 for xxhash64 (the
    # hash is pluggable); md5 buys cross-engine verifiability here.
    oracle="""
        WITH words AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS word
            FROM documents
        ),
        hashed AS (
            SELECT doc_id,
                   ('0x' || substring(md5(word), 1, 15))::BIGINT AS h
            FROM words
        ),
        bits AS (
            SELECT doc_id, b.bit,
                   sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
            FROM hashed,
                 (SELECT unnest(generate_series(0, 31)) AS bit) b
            GROUP BY doc_id, b.bit
        ),
        sh AS (
            SELECT doc_id,
                   CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << bit)
                                 ELSE 0 END) AS BIGINT) AS simhash
            FROM bits GROUP BY doc_id
        )
        SELECT a.doc_id AS d1, b.doc_id AS d2,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    tags=("dedup", "simhash"),
)
def dd05_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 32-bit sign sketch of the token multiset, pairs
    within Hamming distance <= 3 found via the pigeonhole band join (4 bands
    of 8 bits: any pair at distance <=3 agrees on >=1 band). Constant-size
    state per doc; no quadratic compare. The oracle runs the quadratic
    definition — identical output because the banding is complete for the
    distance bound (see register comment)."""
    t = tables(spark, sf_dir)
    words = t.documents.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    # engine-portable 60-bit token hash (md5 prefix — see register comment)
    hashed = words.select(
        "doc_id",
        F.conv(F.substring(F.md5("word"), 1, 15), 16, 10).cast("bigint").alias("h"),
    )
    # bit i contribution: +1 if bit set else -1; sign of the sum is bit i of the sketch
    bit_sums = hashed.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"s{i}")
            for i in range(32)
        ]
    )
    simhash = bit_sums.select(
        "doc_id",
        sum(
            [
                F.when(F.col(f"s{i}") > 0, F.lit(2 ** i)).otherwise(F.lit(0))
                for i in range(32)
            ],
            F.lit(0),
        ).cast("bigint").alias("simhash"),
    )
    bands = simhash.select(
        "doc_id",
        "simhash",
        *[
            F.shiftright(F.col("simhash"), 8 * i).bitwiseAND(F.lit(0xFF)).alias(f"band{i}")
            for i in range(4)
        ],
    )
    band_long = bands.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("band"), F.col(f"band{i}").alias("key"))
                    for i in range(4)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a = band_long.alias("a")
    b = band_long.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.col("a.simhash").alias("sh1"),
            F.col("b.simhash").alias("sh2"),
        )
        .distinct()
    )
    return (
        candidates.withColumn(
            "hamming", F.bit_count(F.col("sh1").bitwiseXOR(F.col("sh2")))
        )
        .filter(F.col("hamming") <= 3)
        .select("d1", "d2", F.col("hamming").cast("bigint").alias("hamming"))
    )


@register(
    "dd06_embedding_neardup",
    oracle="""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings
        )
        SELECT a.vec_id AS v1, b.vec_id AS v2,
               round(list_cosine_similarity(a.v, b.v), 4) AS cosine
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.v, b.v) >= 0.4
    """,
    tags=("dedup", "embedding"),
)
def dd06_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (>= 0.4). Brute-force pair join
    with the unrolled codegen dot product (no Python, no interpreted
    HOFs). This is the oracle path; the bucketed/ANN path for billions
    of vectors is ss02 in similarity.py.

    Physical shape: the build side broadcasts and the probe side runs
    through spread() — the embeddings fixture is a single row group, and
    without the spread the ~2M-pair x 64-dim loop runs on ONE core
    (measured 82 s at sf0.1; ~3 s spread across the cluster).

    r15 (the dd04 condition-ordering fix, guide §3.1): the cosine
    threshold is stated IN the join condition AFTER the cheap
    ``vec_id <`` test — when it was left as a post-join filter,
    Catalyst pushed it into the BNLJ condition AHEAD of the id test
    (plan-verified), so every ORDERED pair — both orientations — paid
    the 64-term dot before the one-long compare that drops half of
    them.  Cheapest-first halves the dot evaluations; the surviving
    pair set and the emitted cosine are identical."""
    from geospatial_data_lake_spark.operators.similarity import _dot
    from geospatial_data_lake_spark.tables import spread

    t = tables(spark, sf_dir)
    e = t.embeddings.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
    )
    e = e.withColumn("n", F.sqrt(_dot(F.col("v"), F.col("v"))))
    a = spread(spark, e).alias("a")
    b = e.alias("b")
    cos = _dot(F.col("a.v"), F.col("b.v")) / (F.col("a.n") * F.col("b.n"))
    pairs = a.join(
        F.broadcast(b),
        (F.col("a.vec_id") < F.col("b.vec_id")) & (cos >= 0.4),
    )
    return pairs.select(
        F.col("a.vec_id").alias("v1"),
        F.col("b.vec_id").alias("v2"),
        F.round(cos, 4).alias("cosine"),
    )


# Shared exact-Jaccard oracle for the incremental-admission family: dd09
# (corpus-scan broadcast verify), dd11 (persisted band-index probe), and
# dd12 (the regime dispatcher) all produce the identical verified pair
# set, so one oracle serves all three.
_INCR_ORACLE = """
    WITH w AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM w GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS new_id, b.doc_id AS old_id,
               count(*) AS common
        FROM w a JOIN w b ON a.word = b.word
        WHERE a.doc_id % 13 = 0 AND b.doc_id % 13 <> 0
        GROUP BY 1, 2
    )
    SELECT new_id, old_id,
           round(common * 1.0 / (s1.sz + s2.sz - common), 4) AS jaccard
    FROM pairs
    JOIN sizes s1 ON new_id = s1.doc_id
    JOIN sizes s2 ON old_id = s2.doc_id
    WHERE common * 1.0 / (s1.sz + s2.sz - common) >= 0.8
"""


@register(
    "dd09_incremental_dedup",
    oracle=_INCR_ORACLE,
    tags=("dedup", "incremental", "jaccard"),
)
def dd09_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup screening: an INCOMING BATCH (doc_id % 13 ==
    0 stands in for today's crawl) checked against the EXISTING corpus at
    token-set Jaccard >= 0.8 — the admission gate of a continuously
    growing corpus, where re-deduplicating corpus x corpus on every
    ingest (dd03/dd04's shape) would be quadratic over time.

    Physical shape: the batch's hashed token-set table BROADCASTS (the
    batch is the small side by construction — the asymmetry that defines
    incremental ingest) and every corpus row verifies against it with
    per-row ``array_intersect`` codegen — exactly one corpus scan, zero
    shuffles before the output, no recall loss (exact verification, so
    the oracle is the exact cross-pair Jaccard).  At 100 TB the
    documented escalation replaces the corpus SCAN with a probe of the
    persisted MinHash band index (dd04 step 3's band keys, bucketed at
    write time via layout.py), making ingest cost O(batch x bands) index
    lookups + exact verify of the candidates — same dispatch discipline
    as dd04, same verified-exact output.

    Candidate prefilter: before the exact ``array_intersect`` verify,
    each (corpus x batch) pair passes two provably-lossless cuts —
    a size-ratio bound and the SSJoin/PPJoin sorted-prefix filter
    (``_ppjoin_prefix_overlap``) — both pure codegen over already-
    computed array sizes/prefixes, so the expensive set intersection
    runs only on pairs that can still reach the threshold."""
    from geospatial_data_lake_spark.tables import spread

    t = tables(spark, sf_dir)
    hashed = spread(spark, t.documents).select(
        "doc_id",
        F.array_sort(
            F.array_distinct(
                F.transform(F.split("text", " "), lambda w: F.xxhash64(w))
            )
        ).alias("h"),
    )
    batch = hashed.filter(F.col("doc_id") % 13 == 0).select(
        F.col("doc_id").alias("new_id"), F.col("h").alias("h1")
    )
    # Admissibility guard: this plan broadcasts the batch to every
    # executor — an oversized batch must take dd11's band-index probe
    # (dd12 dispatches there automatically), not OOM the cluster here.
    est = _estimated_broadcast_bytes(batch, "h1")
    budget = _broadcast_budget(spark)
    if est > budget:
        raise ValueError(
            f"incremental admission batch estimated at {est} bytes "
            f"exceeds the broadcast budget ({budget}; conf "
            f"{_BROADCAST_BUDGET_CONF}): use dd11's band-index probe "
            f"or the dd12 dispatcher, which routes oversized batches "
            f"there automatically"
        )
    corpus = hashed.filter(F.col("doc_id") % 13 != 0).select(
        F.col("doc_id").alias("old_id"), F.col("h").alias("h2")
    )
    common = F.size(F.array_intersect("h1", "h2"))
    return (
        corpus.crossJoin(F.broadcast(batch))
        .filter(_jaccard_size_ratio_ok("h1", "h2", num=4, den=5))
        .filter(_ppjoin_prefix_overlap("h1", "h2", num=4, den=9))
        .withColumn("common", common)
        .withColumn(
            "jaccard",
            F.col("common") / (F.size("h1") + F.size("h2") - F.col("common")),
        )
        .filter(F.col("jaccard") >= 0.8)
        .select("new_id", "old_id", F.round("jaccard", 4).alias("jaccard"))
    )


def _jaccard_size_ratio_ok(c1: str, c2: str, num: int, den: int):
    """Exact-safe size cut for Jaccard >= num/den: J(A,B) <=
    min(|A|,|B|)/max(|A|,|B|), so any qualifying pair satisfies
    den*min >= num*max — integer codegen, no recall loss."""
    s1, s2 = F.size(c1), F.size(c2)
    return (s1 * den >= s2 * num) & (s2 * den >= s1 * num)


def _ppjoin_prefix_overlap(c1: str, c2: str, num: int, den: int):
    """The SSJoin/PPJoin prefix filter for sorted distinct-element
    arrays, exact-safe for Jaccard >= t where t/(1+t) = num/den:
    J(A,B) >= t implies overlap alpha = ceil(num*(|A|+|B|)/den), and a
    pair with that much overlap MUST share an element within the first
    |A|-alpha+1 / |B|-alpha+1 smallest elements (pigeonhole on the
    global sort order) — so pairs with disjoint prefixes are provably
    below threshold.  Integer ceil keeps the bound exact (sizes are
    far below double precision loss)."""
    s1, s2 = F.size(c1), F.size(c2)
    alpha = F.floor(((s1 + s2) * num + (den - 1)) / den).cast("int")
    p1 = F.greatest(s1 - alpha + 1, F.lit(0))
    p2 = F.greatest(s2 - alpha + 1, F.lit(0))
    return F.arrays_overlap(
        F.slice(c1, F.lit(1), p1), F.slice(c2, F.lit(1), p2)
    )


# -- dd10: exact substring-span dedup -----------------------------------------

_SPAN_W = 12  # token window width for exact substring matching


def _dd10_windows(documents: DataFrame) -> DataFrame:
    """(doc_id, p, h) for every sliding _SPAN_W-token window, hashed
    in-row on the scan (no positional explode until the join key
    exists).

    r15: the digest is ``xxhash64`` over the token-array slice — no
    per-window string concatenation, no md5, and the join/shuffle key
    is an 8-byte long instead of a 32-char hex string (guide §2.3
    "narrower types", §1.2 per-task work).  Tokens are space-split so
    the array slice and the old space-joined string carry the same
    window identity; every consumer (dd10/dd13/dd14) only uses ``h``
    for equality/distinctness, so outputs are unchanged while the
    md5-keyed oracles replay the identical duplicate structure (a
    cross-hash divergence would need a 64-bit collision among ~1e5
    windows: p ~ 1e-9).

    r15b (hash-of-hashes): each token is hashed ONCE into ``tkh``
    (materialized per row in its own Project — verified not inlined by
    CollapseProject), and the window digest hashes the 12-element slice
    of ``tkh`` instead of the 12-string slice of the token array: the
    old shape re-hashed every token ~12x (once per overlapping window)
    over variable-width strings; this hashes each token once and each
    window over fixed-width bytes.  Measured 3.4x on the raw
    derivation, 1.6x on dd14 end-to-end (interleaved A/B, min of 5,
    sf0.1 — tools/ab_windows_r15.py).

    r16 (128-bit keys): a single 64-bit window digest is not
    collision-safe at the design point (~1e12 windows at 100 TB ->
    ~1e4 expected colliding pairs by the birthday bound, each one a
    wrong span/decontamination decision; md5's 128 bits were safe,
    r15's 64 were not).  Both levels are widened to TWO-SEED xxhash64
    pairs: each token hashes to a (seed-0, seed-1) struct, and the
    window key is a struct of two seeded hashes over the token-digest
    slice.  A cross-window key collision now needs a simultaneous
    128-bit collision either at the token level or at the window
    level (~2^-128 per pair) — the md5 collision class, at xxhash64
    throughput.  Consumers (dd10/dd13/dd14) use ``h`` only for
    equality/grouping, where a struct key behaves exactly like the
    long key did; shuffle/broadcast keys are 16 bytes vs md5's
    32-char strings.  Measured cost on dd14 against the 64-bit digests:
    steady 0.845 -> 1.336 s (+58%), first run 3.55 -> 4.14 s, sf0.1 on a
    4-core host (``tools/ab.py e39e13d^ e39e13d dd14_decontamination
    --pairs 5``).  That is the price of the collision safety above: the
    64-bit form is cheaper but expects ~1e4 wrong window matches at the
    design point, the 128-bit form none."""
    tkh_docs = documents.select(
        "doc_id",
        F.transform(
            F.split("text", " "),
            lambda tok: F.struct(
                F.xxhash64(tok).alias("a"),
                F.xxhash64(F.lit(1), tok).alias("b"),
            ),
        ).alias("tkh"),
    )
    return tkh_docs.select(
        "doc_id",
        F.explode(
            F.transform(
                _gram_starts(F.col("tkh"), _SPAN_W),
                lambda p: F.struct(
                    p.alias("p"),
                    F.struct(
                        F.xxhash64(F.slice("tkh", p, _SPAN_W)).alias("h1"),
                        F.xxhash64(
                            F.lit(1), F.slice("tkh", p, _SPAN_W)
                        ).alias("h2"),
                    ).alias("h"),
                ),
            )
        ).alias("w"),
    ).select("doc_id", F.col("w.p").alias("p"), F.col("w.h").alias("h"))


def _dd10_hits(wins: DataFrame, skew_safe: bool = False) -> DataFrame:
    """Windows whose hash appears in >= 2 distinct documents.

    Default path: ">= 2 distinct docs share this hash" as min != max
    over a hash-keyed window — ONE shuffle of the window rows, and the
    gram derivation runs once (the groupBy + left-semi spelling costs
    two full exchanges of the same subtree plus the join; measured
    4.8 s -> 2.7 s steady-state at sf0.1).

    ``skew_safe=True`` is the boilerplate-saturation escalation: when
    one window hash dominates the corpus (a license header, a template
    banner), the hash-keyed window funnels every occurrence through one
    reducer.  The salted path aggregates min/max doc_id per (h, salt) —
    spreading the hot hash over two_stage_agg's salt fan-out — merges
    the per-salt partials (salt-bounded rows per hash), and semi-joins
    the duplicated-hash set back BROADCAST, so the window rows are
    never shuffled by h at all.  The duplicated-hash set is bounded by
    the true duplicated-window count (output-sized); past broadcast
    reach the semi join shuffles by h but is AQE-skew-splittable — a
    join can split a hot key across tasks, a window cannot."""
    if not skew_safe:
        from pyspark.sql import Window

        byh = Window.partitionBy("h")
        return (
            wins.withColumn("__mn", F.min("doc_id").over(byh))
            .withColumn("__mx", F.max("doc_id").over(byh))
            .filter(F.col("__mn") != F.col("__mx"))
            .select("doc_id", "p")
        )
    from geospatial_data_lake_spark.operators.skew import two_stage_agg

    dup = (
        two_stage_agg(
            wins,
            ["h"],
            {"mn": ("doc_id", "min"), "mx": ("doc_id", "max")},
        )
        .filter(F.col("mn") != F.col("mx"))
        .select("h")
    )
    return wins.join(F.broadcast(dup), "h", "leftsemi").select("doc_id", "p")


@register(
    "dd10_substring_spans",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, string_split(text, ' ') AS tk FROM documents
        ),
        w AS (
            SELECT doc_id,
                   unnest(generate_series(1, len(tk) - {_SPAN_W - 1})) AS p,
                   tk
            FROM d WHERE len(tk) >= {_SPAN_W}
        ),
        h AS (
            SELECT doc_id, p,
                   md5(array_to_string(tk[p:p + {_SPAN_W - 1}], ' ')) AS h
            FROM w
        ),
        dup AS (
            SELECT h FROM h GROUP BY h HAVING count(DISTINCT doc_id) >= 2
        ),
        hits AS (
            SELECT doc_id, p FROM h WHERE h IN (SELECT h FROM dup)
        ),
        lagd AS (
            SELECT doc_id, p,
                   lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS pp
            FROM hits
        ),
        isl AS (
            SELECT doc_id, p,
                   sum(CASE WHEN pp IS NULL OR p - pp > {_SPAN_W}
                       THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY p
                             ROWS UNBOUNDED PRECEDING) AS g
            FROM lagd
        )
        SELECT doc_id,
               CAST(min(p) AS BIGINT) AS span_start,
               CAST(max(p) + {_SPAN_W - 1} AS BIGINT) AS span_end,
               CAST(max(p) + {_SPAN_W} - min(p) AS BIGINT) AS span_tokens,
               CAST(count(*) AS BIGINT) AS n_windows
        FROM isl GROUP BY doc_id, g
        ORDER BY doc_id, span_start
    """,
    tags=("dedup", "substring", "pipeline"),
)
def dd10_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT substring-span dedup (the "Deduplicating Training Data
    Makes Language Models Better" ExactSubstr operator, re-expressed for
    Spark): find every maximal token span that appears verbatim in >= 2
    distinct documents, reported as per-document (start, end) ranges a
    downstream pass can cut out.

    Method: hash every sliding {_SPAN_W}-token window (stride 1) in-row,
    keep windows whose hash occurs in >= 2 distinct docs, then merge
    overlapping/adjacent duplicated windows per document into maximal
    spans (gaps-and-islands: a window starts a new span when it overlaps
    no prior duplicated window).  A shared span of L >= {_SPAN_W} tokens
    is covered by L - {_SPAN_W} + 1 consecutive duplicated windows, so
    the merged islands recover the exact maximal duplicated ranges —
    without the suffix array the single-node reference algorithm builds.

    Scale shape (100 TB): window hashing is in-row ``transform`` work on
    the scan (no positional explode until the join key exists);
    duplicate detection is min(doc_id) != max(doc_id) over a
    hash-keyed window — ONE shuffle of the window rows, with the gram
    derivation evaluated once (a groupBy + semi-join spelling pays two
    exchanges of the same subtree plus the join); the island merge is a
    per-document window (shuffle keyed on doc_id — the output's
    natural key).  Nothing is quadratic: cost is linear in total
    windows, and the documented knob is stride S > 1 (cuts window
    count S x at +/-S span-boundary resolution); since r15 the window
    key IS xxhash64 over the token slice (8-byte shuffle keys — the
    oracle's md5 replays the same duplicate structure because outputs
    never expose the digest).  The per-doc window is skew-safe (a document contributes at
    most len(tk) rows); the hash-keyed window funnels a
    boilerplate-saturated hash to one reducer — the escalation is
    ``_dd10_hits(..., skew_safe=True)``: a salted (h, salt) min/max
    pre-pass (skew.py's two_stage_agg) + broadcast semi-join, proven
    output-identical by the planted-hot-hash unit test."""
    from pyspark.sql import Window

    t = tables(spark, sf_dir)
    hits = _dd10_hits(_dd10_windows(t.documents))
    by_doc = Window.partitionBy("doc_id").orderBy("p")
    run = by_doc.rowsBetween(Window.unboundedPreceding, 0)
    isl = hits.withColumn("pp", F.lag("p").over(by_doc)).withColumn(
        "g",
        F.sum(
            F.when(
                F.col("pp").isNull() | (F.col("p") - F.col("pp") > _SPAN_W),
                1,
            ).otherwise(0)
        ).over(run),
    )
    return (
        isl.groupBy("doc_id", "g")
        .agg(
            F.min("p").cast("bigint").alias("span_start"),
            (F.max("p") + _SPAN_W - 1).cast("bigint").alias("span_end"),
            (F.max("p") + _SPAN_W - F.min("p"))
            .cast("bigint")
            .alias("span_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
        )
        .select(
            "doc_id", "span_start", "span_end", "span_tokens", "n_windows"
        )
        .orderBy("doc_id", "span_start")
    )


# -- dd11: index-backed incremental near-dup admission ------------------------

_DD11_INDEX: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def _build_band_index(spark: SparkSession, sf_dir: str):
    """Materialize the CORPUS side of the LSH pipeline as persisted
    state: a ManifestTable of band keys (partitioned by band id — the
    probe's join key routes to co-located partitions) plus a parquet
    doc store of hashed token sets for exact verification.  Built once
    per corpus version; on a real lake the index is maintained
    incrementally (each admitted batch appends its own band keys —
    exactly the ``append`` this build uses)."""
    import os
    import tempfile

    from geospatial_data_lake_spark.sources.manifest_table import (
        ManifestTable,
    )
    from geospatial_data_lake_spark.tables import spread

    cache = _DD11_INDEX.setdefault(spark, {})
    if sf_dir in cache:
        return cache[sf_dir]
    t = tables(spark, sf_dir)
    corpus = spread(spark, t.documents.filter(F.col("doc_id") % 13 != 0))
    root = session_tmpdir(spark, "gdl_dd11_")
    mt = ManifestTable(
        spark,
        os.path.join(root, "bands"),
        key_cols=["doc_id"],
        partition_by=["band"],
    )
    mt.append(_band_keys(corpus))
    store = os.path.join(root, "docstore")
    corpus.select("doc_id", _hashed_tokens()).write.parquet(store)
    cache[sf_dir] = (mt, store)
    return mt, store


def _hashed_tokens() -> F.Column:
    return F.array_sort(
        F.array_distinct(
            F.transform(F.split("text", " "), lambda w: F.xxhash64(w))
        )
    ).alias("h")


def _band_keys(docs: DataFrame) -> DataFrame:
    """(doc_id, band, key) rows — dd04 step 2/3's signature + banding,
    per document (no rep collapsing: identical token sets agree on
    every band, so the index needs no canonicalization pass)."""
    words = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("word"),
    )
    sig = words.groupBy("doc_id").agg(*minhash_signature_aggs())
    return sig.select(
        "doc_id", F.posexplode(band_keys_array()).alias("band", "key")
    )


@register(
    "dd11_indexed_incremental_dedup",
    oracle=_INCR_ORACLE,
    tags=("dedup", "incremental", "lsh", "index", "lake"),
)
def dd11_indexed_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd09's documented escalation, REALIZED: incremental near-dup
    admission against a PERSISTED LSH band index instead of a corpus
    scan.  The corpus's MinHash band keys live in a lake table
    (partitioned by band id) built once and appended per admitted
    batch; an incoming batch (doc_id % 13 == 0) computes its own band
    keys — O(batch) — and equi-joins the index on (band, key); only
    the candidates pay exact verification against the hashed-token doc
    store.  Same output contract and same exact-Jaccard oracle as dd09:
    banding at 16 bands x r=2 keeps every >= 0.8 pair with miss
    probability ~8e-8, so the verified output equals the exact
    cross-pair set (dd04's argument).

    Scale shape (the payoff vs dd09): ingest cost is O(batch x bands)
    index-join work + O(candidates) verify — INDEPENDENT of corpus
    size, where dd09's broadcast-verify pays one full corpus scan per
    batch.  The probe shuffles only the batch's band keys (the index
    side is read co-partitioned by band); candidate dedup across
    agreeing bands is one pair-keyed distinct (bounded by true pairs x
    bands — dd04's flat first-band predicate is the documented
    alternative); the verify side reads only the doc-store rows the
    candidates name (semi join).  The doc store holds hashed token
    SETS, not text — the index is self-contained, no fixture re-read
    at probe time.

    Crossover caveat (same as dd04's): on THIS near-dup-saturated
    fixture the band buckets run hot and the probe materializes a
    quadratic-dense candidate stream — measured 9.8 s at sf0.1 vs
    dd09's 0.5 s corpus-scan broadcast verify, so here the scan wins.
    The regimes invert at scale: a real crawl's background similarity
    is ~0 (candidates linear in true pairs) and the corpus no longer
    fits a per-batch scan budget, which is the design point this
    operator exists for.  dd12 below IS that dispatcher: it runs
    dd04's sampled-background-Jaccard measurement on the corpus and
    routes to this probe in the sparse regime, the dd09 scan in the
    saturated one."""
    from geospatial_data_lake_spark.tables import spread

    mt, store = _build_band_index(spark, sf_dir)
    t = tables(spark, sf_dir)
    batch = spread(spark, t.documents.filter(F.col("doc_id") % 13 == 0))
    probe = _band_keys(batch).select(
        F.col("doc_id").alias("new_id"), "band", "key"
    )
    idx = mt.read().select(F.col("doc_id").alias("old_id"), "band", "key")
    cands = (
        probe.join(idx, ["band", "key"]).select("new_id", "old_id").distinct()
    )
    bh = batch.select(F.col("doc_id").alias("new_id"), _hashed_tokens()).select(
        "new_id", F.col("h").alias("h1")
    )
    ch = (
        spark.read.parquet(store)
        .select(F.col("doc_id").alias("old_id"), F.col("h").alias("h2"))
        .join(cands.select("old_id").distinct(), "old_id", "leftsemi")
    )
    nc = F.size(F.array_intersect("h1", "h2"))
    return (
        cands.join(F.broadcast(bh), "new_id")
        .join(ch, "old_id")
        # r15 (guide §3.1, dd09's discipline): the two exact-safe cuts
        # run BEFORE the full set intersection — on this saturated
        # fixture the band probe materializes a quadratic-dense
        # candidate stream and most candidates fail 0.8, so dropping
        # them on integer size arithmetic / a prefix-slice overlap
        # saves the ~2x100-element array_intersect per dropped pair.
        # Both filters are proven upper bounds (no recall loss): the
        # verified output is exactly unchanged.
        .filter(_jaccard_size_ratio_ok("h1", "h2", num=4, den=5))
        .filter(_ppjoin_prefix_overlap("h1", "h2", num=4, den=9))
        .withColumn("nc", nc)
        .withColumn(
            "jaccard",
            F.col("nc") / (F.size("h1") + F.size("h2") - F.col("nc")),
        )
        .filter(F.col("jaccard") >= 0.8)
        .select("new_id", "old_id", F.round("jaccard", 4).alias("jaccard"))
    )


# -- dd12: regime-dispatched incremental admission ----------------------------


# Broadcast budget for the admission batch (estimated serialized bytes).
# dd09's plan is only admissible while the batch fits the executors'
# broadcast memory; past this the dispatcher routes to dd11's band-index
# probe and dd09 itself refuses loudly instead of OOM-ing the cluster.
# Default is ~the JVM comfort zone for a replicated hashed relation;
# production tunes it per cluster via the Spark conf key below.
_BROADCAST_BUDGET_BYTES = 64 << 20
_BROADCAST_BUDGET_CONF = "spark.gdl.incrementalBroadcastBudgetBytes"


def _broadcast_budget(spark: SparkSession) -> int:
    try:
        return int(spark.conf.get(_BROADCAST_BUDGET_CONF))
    except Exception:
        return _BROADCAST_BUDGET_BYTES


def _estimated_broadcast_bytes(hashed_batch: DataFrame, h_col: str) -> int:
    """Estimated broadcast size of a hashed-token batch: 8 bytes per
    xxhash64 element + ~48 bytes/row of row/array overhead, from ONE
    O(batch) aggregate (cheap by the same asymmetry that makes the
    batch broadcastable at all)."""
    r = hashed_batch.agg(
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(F.size(h_col)), F.lit(0)).alias("hashes"),
    ).first()
    return int(r.hashes) * 8 + int(r.rows) * 48


def choose_incremental_path(corpus: DataFrame) -> str:
    """Pick the scale-correct incremental-admission plan from a
    measurement, not a guess: ``'scan'`` (dd09's broadcast corpus-scan
    verify) when the corpus's sampled background Jaccard says near-dups
    saturate it — there the band index materializes a quadratic-dense
    candidate stream and the single scan is strictly cheaper — else
    ``'index'`` (dd11's persisted band-index probe), whose O(batch x
    bands) cost is corpus-size-independent and is the only admissible
    plan on a 100 TB corpus with ~0 background similarity.  Same
    threshold and same 256-doc deterministic sample as dd04's dispatch,
    so the two operator families switch regimes together."""
    return "scan" if _is_saturated(corpus) else "index"


@register(
    "dd12_dispatched_incremental",
    oracle=_INCR_ORACLE,
    tags=("dedup", "incremental", "dispatch"),
)
def dd12_dispatched_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup admission with AUTOMATIC regime dispatch —
    the operator family, not the caller, picks between dd09's corpus
    scan and dd11's index probe (see ``choose_incremental_path``).
    Both paths emit the identical exact-verified pair set, so the
    oracle — and every downstream consumer — is path-independent.

    Dispatch order: the broadcast BUDGET is checked first — an
    admission batch too big to replicate takes the index probe no
    matter what the saturation measurement says (the scan plan is
    inadmissible on the cluster, not merely slower) — then the
    sampled-background-Jaccard regime picks between scan and index."""
    from geospatial_data_lake_spark.tables import spread

    t = tables(spark, sf_dir)
    batch = spread(
        spark, t.documents.filter(F.col("doc_id") % 13 == 0)
    ).select(F.col("doc_id").alias("new_id"), _hashed_tokens())
    if _estimated_broadcast_bytes(batch, "h") > _broadcast_budget(spark):
        return dd11_indexed_incremental_dedup(spark, sf_dir)
    corpus = t.documents.filter(F.col("doc_id") % 13 != 0)
    if choose_incremental_path(corpus) == "scan":
        return dd09_incremental_dedup(spark, sf_dir)
    return dd11_indexed_incremental_dedup(spark, sf_dir)


# -- dd13: substring-span REMOVAL (the cut pass dd10 plans for) ---------------


@register(
    "dd13_substring_removal",
    # Extends dd10's oracle pipeline: after the gaps-and-islands span
    # merge, tokens inside any duplicated span are dropped and the
    # survivors re-joined in position order (string_agg ORDER BY p);
    # docs whose every token is duplicated surface with an empty
    # cleaned_text (LEFT JOIN + COALESCE), matching Spark's concat_ws
    # over an empty array.
    oracle=f"""
        WITH d AS (
            SELECT doc_id, string_split(text, ' ') AS tk FROM documents
        ),
        w AS (
            SELECT doc_id,
                   unnest(generate_series(1, len(tk) - {_SPAN_W - 1})) AS p,
                   tk
            FROM d WHERE len(tk) >= {_SPAN_W}
        ),
        h AS (
            SELECT doc_id, p,
                   md5(array_to_string(tk[p:p + {_SPAN_W - 1}], ' ')) AS h
            FROM w
        ),
        dup AS MATERIALIZED (
            SELECT h FROM h GROUP BY h HAVING count(DISTINCT doc_id) >= 2
        ),
        hits AS MATERIALIZED (
            SELECT doc_id, p FROM h WHERE h IN (SELECT h FROM dup)
        ),
        lagd AS MATERIALIZED (
            SELECT doc_id, p,
                   lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS pp
            FROM hits
        ),
        isl AS MATERIALIZED (
            SELECT doc_id, p,
                   sum(CASE WHEN pp IS NULL OR p - pp > {_SPAN_W}
                       THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY p
                             ROWS UNBOUNDED PRECEDING) AS g
            FROM lagd
        ),
        spans AS MATERIALIZED (
            SELECT doc_id,
                   min(p) AS span_start,
                   max(p) + {_SPAN_W - 1} AS span_end
            FROM isl GROUP BY doc_id, g
        ),
        tokpos AS MATERIALIZED (
            SELECT doc_id, unnest(tk) AS tok,
                   generate_subscripts(tk, 1) AS p
            FROM d
        ),
        kept AS MATERIALIZED (
            SELECT t.doc_id, t.tok, t.p
            FROM tokpos t LEFT JOIN spans s
              ON t.doc_id = s.doc_id
             AND t.p BETWEEN s.span_start AND s.span_end
            WHERE s.doc_id IS NULL
        ),
        agg AS MATERIALIZED (
            SELECT doc_id,
                   count(*) AS kept_tokens,
                   string_agg(tok, ' ' ORDER BY p) AS cleaned
            FROM kept GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(len(d.tk) AS BIGINT) AS total_tokens,
               CAST(COALESCE(a.kept_tokens, 0) AS BIGINT) AS kept_tokens,
               COALESCE(a.cleaned, '') AS cleaned_text
        FROM d LEFT JOIN agg a USING (doc_id)
        ORDER BY d.doc_id
    """,
    tags=("dedup", "substring", "pipeline", "writer"),
)
def dd13_substring_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUT pass of ExactSubstr dedup (Lee et al.): dd10 reports the
    maximal duplicated spans; this operator actually removes them —
    every token inside any >= {_SPAN_W}-token span appearing verbatim in
    >= 2 documents is dropped (both occurrences: the conservative policy
    for training-data leakage), and the survivors are re-joined in
    position order as the cleaned training text.  Every document is
    emitted, including span-free docs (text unchanged) and fully-
    duplicated docs (empty cleaned_text) — a WRITER-shaped operator: its
    output is the next pipeline stage's input table.

    Scale shape: dd10's span derivation unchanged (one hash-keyed
    shuffle + per-doc windows); the cut itself is one doc_id-keyed join
    of the span lists (bounded by spans-per-doc) against the token
    arrays, then pure in-row ``filter`` with a positional lambda — no
    token-level shuffle: tokens never leave their row."""
    t = tables(spark, sf_dir)
    hits = _dd10_hits(_dd10_windows(t.documents))
    from pyspark.sql import Window

    by_doc = Window.partitionBy("doc_id").orderBy("p")
    run = by_doc.rowsBetween(Window.unboundedPreceding, 0)
    isl = hits.withColumn("pp", F.lag("p").over(by_doc)).withColumn(
        "g",
        F.sum(
            F.when(
                F.col("pp").isNull() | (F.col("p") - F.col("pp") > _SPAN_W), 1
            ).otherwise(0)
        ).over(run),
    )
    spans = (
        isl.groupBy("doc_id", "g")
        .agg(
            F.min("p").alias("s"),
            (F.max("p") + _SPAN_W - 1).alias("e"),
        )
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("s", "e")).alias("spans"))
    )
    docs = t.documents.select("doc_id", F.split("text", " ").alias("toks"))
    joined = docs.join(spans, "doc_id", "left").withColumn(
        "spans", F.coalesce("spans", F.array())
    )
    in_span = lambda tok, i: F.exists(  # noqa: E731 — positional lambda
        F.col("spans"), lambda sp: (i + 1 >= sp.s) & (i + 1 <= sp.e)
    )
    kept = F.filter("toks", lambda tok, i: ~in_span(tok, i))
    return (
        joined.select(
            "doc_id",
            F.size("toks").cast("bigint").alias("total_tokens"),
            F.size(kept).cast("bigint").alias("kept_tokens"),
            F.concat_ws(" ", kept).alias("cleaned_text"),
        )
        .orderBy("doc_id")
    )


@register(
    "dd14_decontamination",
    # The oracle derives window identity from md5 of the space-joined
    # token window; the engine keys the same windows on xxhash64 of the
    # token slice (_dd10_windows) — both sides expose only counts over
    # the identical duplicate structure.  The benchmark side is
    # doc_id % 17 == 0, disjoint from dd09's % 13 admission split.
    oracle=f"""
        WITH d AS (
            SELECT doc_id, string_split(text, ' ') AS tk FROM documents
        ),
        w AS (
            SELECT doc_id,
                   unnest(generate_series(1, len(tk) - {_SPAN_W - 1})) AS p,
                   tk
            FROM d WHERE len(tk) >= {_SPAN_W}
        ),
        h AS (
            SELECT doc_id,
                   md5(array_to_string(tk[p:p + {_SPAN_W - 1}], ' ')) AS h
            FROM w
        ),
        bh AS MATERIALIZED (
            SELECT DISTINCT h FROM h WHERE doc_id % 17 = 0
        ),
        hits AS MATERIALIZED (
            SELECT doc_id, count(DISTINCT h) AS n
            FROM h
            WHERE doc_id % 17 <> 0 AND h IN (SELECT h FROM bh)
            GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(len(d.tk) AS BIGINT) AS n_tokens,
               CAST(COALESCE(hits.n, 0) AS BIGINT) AS n_shared_ngrams,
               COALESCE(hits.n, 0) > 0 AS contaminated
        FROM d LEFT JOIN hits USING (doc_id)
        WHERE d.doc_id % 17 <> 0
        ORDER BY d.doc_id
    """,
    tags=("dedup", "decontamination", "pipeline"),
)
def dd14_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark DECONTAMINATION, digest-keyed — the train/eval overlap
    scrub (GPT-3 appendix C removed training docs sharing any 13-gram
    with an eval example).  COMPANION to ct01/ct02 in pipeline_ops,
    deliberately not a replacement: ct01 joins RAW gram strings (the
    human-auditable view — you can read exactly which gram matched)
    and emits only contaminated docs; this operator keys on the
    module's shared {_SPAN_W}-token WINDOW DIGESTS (dd10/dd13's
    machinery — at 100 TB the broadcast set and any shuffle carry
    8-byte xxhash64 digests instead of full 12-token strings, an order
    of magnitude less traffic) and emits EVERY corpus document with its
    contaminated flag and distinct-shared-window count — the
    full-corpus audit table a removal decision signs off on.  Corpus
    split doc_id % 17, disjoint from ct01's % 97 and dd09's % 13.

    Physical shape — the defining asymmetry of decontamination is that
    the benchmark set is TINY next to the corpus: the benchmark's
    distinct window hashes BROADCAST, the corpus pays exactly one scan
    with in-row window hashing (no positional explode before the join
    key exists, same as dd10), and the only shuffle is the doc-keyed
    count over the HIT rows — bounded by contamination volume, not
    corpus size.  At 100 TB with an oversized benchmark the escalation
    is the same hash-keyed semi join (AQE-skew-splittable), the exact
    dd10 discipline."""
    t = tables(spark, sf_dir)
    docs = t.documents
    bench_h = (
        _dd10_windows(docs.filter(F.col("doc_id") % 17 == 0))
        .select("h")
        .distinct()
    )
    corpus = docs.filter(F.col("doc_id") % 17 != 0)
    hits = (
        _dd10_windows(corpus)
        .join(F.broadcast(bench_h), "h", "leftsemi")
        .groupBy("doc_id")
        .agg(F.countDistinct("h").alias("n"))
    )
    return (
        corpus.select(
            "doc_id",
            F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        )
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_shared_ngrams"),
            (F.coalesce("n", F.lit(0)) > 0).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


# dd15's oracle wraps dd07's whole component computation as a CTE and
# picks each group's canonical survivor with a deterministic window.
def _dd15_oracle() -> str:
    from geospatial_data_lake_spark.registry import REGISTRY

    return (
        "WITH comp AS MATERIALIZED ("
        + REGISTRY["dd07_duplicate_groups"].oracle
        + """
        ),
        scored AS (
            SELECT c.doc_id, c.group_id, c.group_size, d.n_chars
            FROM comp c JOIN documents d USING (doc_id)
        )
        SELECT group_id,
               doc_id AS winner_doc_id,
               CAST(n_chars AS BIGINT) AS winner_chars,
               CAST(group_size AS BIGINT) AS group_size,
               CAST(group_size - 1 AS BIGINT) AS n_dropped
        FROM scored
        QUALIFY row_number() OVER (
            PARTITION BY group_id ORDER BY n_chars DESC, doc_id
        ) = 1
    """
    )


@register(
    "dd15_canonical_dedup_decision",
    oracle=_dd15_oracle(),
    tags=("dedup", "canonical", "decision"),
)
def dd15_canonical_dedup_decision(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The PRODUCTION dedup decision on top of group resolution: for
    every near-duplicate component (dd07's min-label groups over the
    dd04 LSH pair graph), elect ONE canonical survivor — the longest
    document, lowest doc_id on ties (the keep-the-most-complete-copy
    heuristic real pipelines apply before dropping the rest).  Output
    is one row per group: winner, its length, group size, and how many
    documents the decision drops.

    Scale shape: the election is a single partial-aggregable
    ``max(struct(n_chars, -doc_id))`` per group — groups are
    pair-graph-sized (near-dup members only, orders of magnitude
    smaller than the corpus), the group table broadcasts into one
    corpus-side semi-join for lengths, and no window function touches
    corpus-scale data.  At 100 TB the decision costs one broadcast
    lookup + one tiny aggregation beyond what dd07 already paid."""
    groups = dd07_duplicate_groups(spark, sf_dir)
    t = tables(spark, sf_dir)
    scored = t.documents.select("doc_id", "n_chars").join(
        F.broadcast(groups), "doc_id"
    )
    return (
        scored.groupBy("group_id")
        .agg(
            F.max(
                F.struct(
                    F.col("n_chars").alias("c"),
                    (-F.col("doc_id")).alias("negid"),
                )
            ).alias("w"),
            F.max("group_size").cast("bigint").alias("group_size"),
        )
        .select(
            "group_id",
            (-F.col("w.negid")).cast("bigint").alias("winner_doc_id"),
            F.col("w.c").cast("bigint").alias("winner_chars"),
            "group_size",
            (F.col("group_size") - 1).cast("bigint").alias("n_dropped"),
        )
    )
