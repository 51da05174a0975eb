"""Deduplication operators over a text corpus (documents table).

Exact dedup, n-gram Jaccard near-dup, MinHash+LSH, SimHash — the standard
large-scale training-data pipeline stack, each designed for the 100 TB path:

  * exact:   one hash-groupBy shuffle on a fingerprint column (map-side
             partial agg, no text movement — only the 32-char digest).
  * jaccard: shingle-explode → co-shingle join → pair agg. Exact but
    quadratic in posting-list size; the hot-shingle df-cap bounds the join
    against boilerplate, and the scale path is MinHash below.
  * minhash: signatures via ONE vectorized pandas UDF pass (numpy segment
    mins over a concatenated byte buffer — no per-row Python), then LSH
    banding: explode `bands` rows per doc — the exchange carries only
    (doc_id, band, 8-byte band hash), never the signature or the text;
    signatures join back on candidate pairs only.
  * simhash: 32-bit signature from the same hashing pass; near-dup pairs via
    4-byte band exact-match (hamming ≤ r by pigeonhole).

All hashes are our own deterministic integer mixes — reproducible across
Spark versions and engines (Spark's builtin hash()/xxhash64 are avoided in
signatures so oracles/tests can recompute them in pure numpy).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..functions.rules import WS, ws_words, ws_words_sql
from ..functions.udfs import guard_zip_rereads
from ..models import hashing
from .guards import barrier_filter, rank_cap

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def normalize_text(col):
    """Canonical normalization for fingerprinting: lowercase + collapse
    whitespace + trim. Same expression exists in DuckDB (entry oracle)."""
    return F.regexp_replace(F.regexp_replace(F.lower(col), WS, " "),
                            "^ | $", "")


def fingerprint(col):
    """Document fingerprint: md5 of the normalized text — the exact-dedup
    key (DuckDB twin: md5 over the same normalization)."""
    return F.md5(normalize_text(col))


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (normalized) texts: fingerprint, group size,
    representative (min doc_id), member list. Only the digest shuffles."""
    fp = fingerprint(F.col(text_col))
    return (
        docs.select(F.col("doc_id"), fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("representative"),
        )
        .filter(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# word n-gram Jaccard (exact near-dup)
# ---------------------------------------------------------------------------

def shingle_set(docs: DataFrame, n: int = 3) -> DataFrame:
    """Distinct (doc_id, shingle) word-n-gram set — the shared front end
    of Jaccard dedup and cross-corpus contamination. Short docs (< n
    words) contribute their whole text as one shingle.

    The words array is materialized in its OWN projection before the
    shingle transform: the lambda slices it once per shingle, and
    inlining the split+filter expression into every slice (what
    CollapseProject does to a single-projection form) makes the explode
    O(words²) per doc — measured ~12x slower (CLAUDE.md perf notes)."""
    wdf = docs.select("doc_id",
                      ws_words(F.lower(F.col("text"))).alias("_ws"))
    words = F.col("_ws")
    nw = F.size(words)
    # shingle strings via zip_with over n SHIFTED slices of the words
    # array (r6): each slice is evaluated once per row and the lambda
    # does one concat per shingle — measured ~20% faster than the
    # per-position slice+array_join transform, byte-identical output
    # (verified exhaustively at sf0.1)
    m = nw - (n - 1)
    shingled = F.slice(words, 1, m)
    for j in range(2, n + 1):
        shingled = F.zip_with(shingled, F.slice(words, j, m),
                              lambda a, b: F.concat(a, F.lit(" "), b))
    shingles = F.when(nw >= n, shingled) \
        .otherwise(F.array(F.array_join(words, " ")))
    return wdf.select("doc_id", F.explode(shingles).alias("shingle")) \
        .distinct()


def _drop_hot_shingles(sh: DataFrame, max_df: int) -> DataFrame:
    """Hot-shingle posting-list cap: count documents per shingle (map-side
    partial agg), broadcast the tiny set of shingles above `max_df`, and
    anti-join it away BEFORE a quadratic co-shingle join."""
    hot = (sh.groupBy("shingle")
           .agg(F.count(F.lit(1)).alias("df"))
           .filter(F.col("df") > max_df)
           .select("shingle"))
    return sh.join(F.broadcast(hot), "shingle", "left_anti")


def cross_contamination(train_docs: DataFrame, eval_docs: DataFrame,
                        n: int = 3, min_shared: int = 1,
                        max_shingle_df: int | None = None) -> DataFrame:
    """Train/eval DECONTAMINATION sweep: (train_doc, eval_doc, n_shared)
    pairs sharing ≥ min_shared word-n-gram shingles — the cross-corpus
    variant of the co-shingle join (an eval document whose shingles leak
    into training data inflates benchmarks; these pairs are the drop/audit
    set).

    Plan: both corpora shingle narrowly; the join keys on shingle, so the
    shuffle carries (doc_id, shingle) only. `max_shingle_df` caps hot
    shingles by their TRAIN-side document frequency (the side that scales)
    before the join, same tradeoff as ngram_jaccard_pairs.
    """
    tr = shingle_set(train_docs, n)
    if max_shingle_df is not None:
        # two consumers of the train shingles (df count + join) —
        # materialize once, same as ngram_jaccard_pairs
        tr = _drop_hot_shingles(tr.localCheckpoint(), max_shingle_df)
    ev = shingle_set(eval_docs, n)
    return (
        tr.alias("t").join(ev.alias("e"), "shingle")
        .groupBy(F.col("t.doc_id").alias("train_doc"),
                 F.col("e.doc_id").alias("eval_doc"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3,
                        threshold: float = 0.8,
                        max_shingle_df: int | None = None) -> DataFrame:
    """Exact Jaccard over word n-gram shingle SETS via co-shingle join.

    Plan: shingle-explode (narrow) → distinct (shuffle on (doc, shingle)) →
    self-join on shingle → pair-level agg. Broadcast is NOT used: both sides
    are the full corpus; at scale this operator is the verification stage
    behind MinHash candidates, not a full-corpus sweep.

    `max_shingle_df`: hot-shingle guard. A single corpus-wide boilerplate
    shingle (a repeated header) makes the co-shingle self-join quadratic in
    that posting list — one shingle shared by 10^6 docs is 10^12 join rows.
    With a cap, shingles whose document frequency exceeds it are dropped
    BEFORE the join (anti-join against the small hot set), and Jaccard is
    computed over the capped shingle sets in BOTH engines (the DuckDB
    oracle mirrors the cap), trading exactness on boilerplate-only overlap
    for a bounded join. None = exact (no cap).
    """
    # The shingle set feeds up to FOUR consumers (df-cap count, doc sizes,
    # both join sides); the split+explode HOF work is the expensive part
    # (interpreted lambdas — CLAUDE.md perf notes), so materialize the
    # distinct set ONCE before anything fans out.
    sh = shingle_set(docs, n).localCheckpoint()
    if max_shingle_df is not None:
        sh = _drop_hot_shingles(sh, max_shingle_df)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    shared = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("n_shingles").alias("size_b"))
    return (
        shared.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_shared").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("n_shared"))
            .cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# near-duplicate group resolution (connected components)
# ---------------------------------------------------------------------------

# Below this many (directed) edges the connected-component resolution
# runs DRIVER-SIDE on the collected edge list (union-find) instead of the
# distributed label-propagation loop: the edge table of a near-dup graph
# is O(corpus · dup-rate · cap) ids — 4M long edges ≈ 64 MB collected
# and ~0.3 GB peak in _union_find_min_labels, a bounded, documented
# collect (same guard discipline as apply_dedup's drop-set
# probe) — while the distributed loop costs 1 count-job + 2 shuffles PER
# ROUND. Above the cap the loop runs unchanged. Both paths produce the
# identical labeling (min component id), pinned by tests.
DRIVER_CC_MAX_EDGES = 4_000_000


def _union_find_min_labels(edges: pd.DataFrame) -> pd.DataFrame:
    """Driver-side connected components over an (src, dst) edge frame →
    (doc_id, group_id) rows, group_id the min id of the component —
    exactly resolve_groups' labeling convention.

    The ids are factorized once (one hash pass, any hashable id type),
    then components are found on the int64 codes: each round every tree
    root hooks onto the smallest root across its edges, and pointer
    jumping flattens the trees again, so every code points at its
    tree's smallest code; a round that changes nothing ends the loop.
    Each component's min ORIGINAL id comes from a groupby-min over the
    root codes, since codes follow first appearance, not id order."""
    m = len(edges)
    codes, ids = pd.factorize(
        pd.concat([edges["src"], edges["dst"]], ignore_index=True))
    src, dst = codes[:m], codes[m:]
    label = np.arange(len(ids))
    while True:
        hooked = label.copy()
        np.minimum.at(hooked, label[src], label[dst])
        np.minimum.at(hooked, label[dst], label[src])
        while True:
            jumped = hooked[hooked]
            if np.array_equal(jumped, hooked):
                break
            hooked = jumped
        if np.array_equal(hooked, label):
            break
        label = hooked
    return pd.DataFrame({
        "doc_id": ids,
        "group_id": pd.Series(ids).groupby(label).transform("min")
        .to_numpy()})


def resolve_groups(pairs: DataFrame, a_col: str = "doc_a",
                   b_col: str = "doc_b", max_iters: int = 50,
                   driver_max_edges: int | None = DRIVER_CC_MAX_EDGES
                   ) -> DataFrame:
    """Connected components over near-duplicate pairs: every doc labeled
    with the MIN doc id of its component (the canonical representative to
    keep; the rest are the dedup drop set).

    Min-label propagation WITH pointer jumping: each round every vertex
    takes the minimum of (its label, its neighbors' labels, its LABEL'S
    label). The label-of-label hop halves remaining path lengths each
    round — O(log diameter) rounds, not O(diameter) (plain neighbor-min
    needs one round per hop on a chain). Each round is two shuffles keyed
    on vertex id; the driver only checks a scalar convergence count.
    localCheckpoint() truncates the growing lineage so round N does not
    replay rounds 1..N-1.

    Raises RuntimeError if max_iters rounds pass without convergence
    (silent non-canonical labels would diverge from the recursive-CTE
    oracle); with jumping, 50 rounds cover diameters up to ~2^50.
    """
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(pairs.select(F.col(b_col).alias("src"),
                                  F.col(a_col).alias("dst")))
        .distinct()
    ).localCheckpoint()
    if driver_max_edges is not None:
        # the edge table is already materialized (ONE parallel job — the
        # eager checkpoint both paths need; a lazy checkpoint probed via
        # limit() instead pays CollectLimit's incremental job ladder over
        # cold partitions). The probe and the fetch read the cached
        # blocks THROUGH ARROW (toPandas — a row-based collect() spends
        # ~0.5s/50k edges in py4j deserialization alone); driver memory
        # is capped by the threshold, never by the edge count.
        pdf = edges.limit(driver_max_edges + 1).toPandas()
        if len(pdf) <= driver_max_edges:
            out = _union_find_min_labels(pdf)
            # typed like the input ids (long, int, string, ...), the
            # same schema the distributed path below produces
            id_type = edges.schema["src"].dataType.simpleString()
            return pairs.sparkSession.createDataFrame(
                out.astype(pdf["src"].dtype),
                f"doc_id {id_type}, group_id {id_type}")
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    ).localCheckpoint()
    changed = None
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src").agg(F.min("label").alias("nmin"))
        )
        # pointer jump: the current label is itself a vertex id — look up
        # ITS label (grandparent) and take the min of all three
        parents = labels.select(F.col("id").alias("pid"),
                                F.col("label").alias("plabel"))
        # carry the OLD label through the round so the convergence count is
        # a cheap scan of the checkpointed result, not another join
        new_labels = (
            labels
            .join(parents, labels["label"] == parents["pid"], "left")
            .join(neighbor_min, labels["id"] == neighbor_min["src"], "left")
            .select(
                "id",
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("plabel"), F.col("label")),
                    F.coalesce(F.col("nmin"), F.col("label")),
                ).alias("label"),
                F.col("label").alias("_old"),
            )
        ).localCheckpoint(eager=False)
        # lazy checkpoint: the convergence count below is the action that
        # materializes the round (one job per round, not two)
        changed = new_labels.filter(F.col("label") != F.col("_old")).count()
        labels = new_labels.drop("_old")
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"resolve_groups did not converge in {max_iters} rounds "
            f"({changed} labels still changing) — labels would be "
            f"non-canonical; raise max_iters")
    return labels.select(F.col("id").alias("doc_id"),
                         F.col("label").alias("group_id"))

MINHASH_K = 32          # permutations
LSH_BANDS = 8           # bands of 4 rows each
_MERSENNE = (1 << 61) - 1
_CHAR_SHINGLE = 5
_MAX_BYTES = 4096  # encode_batch max_bytes for signatures (both engines)


def _perm_params(k: int = MINHASH_K) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic (a, b) for k universal-hash permutations.

    a < 2^29 and shingle hashes < 2^32, so a*h < 2^61 and a*h + b < 2^62 —
    no int64 overflow before the Mersenne reduction."""
    rng = np.random.RandomState(42)
    a = rng.randint(1, 1 << 29, size=k, dtype=np.int64) | 1
    b = rng.randint(0, 1 << 61, size=k, dtype=np.int64)
    return a, b


def minhash_signatures_np(texts: list, k: int = MINHASH_K) -> np.ndarray:
    """[n, k] int64 MinHash signatures over char-5-gram shingles.

    One concatenated-buffer hashing pass (models/hashing.py) + per-
    permutation segment minimum — no per-row Python. Pure-numpy, so tests
    and oracles recompute signatures outside Spark bit-identically.
    """
    n = len(texts)
    a, b = _perm_params(k)
    buf, starts, _ = hashing.encode_batch(texts, max_bytes=_MAX_BYTES)
    h, seg, _ = hashing.ngram_hashes(buf, starts, _CHAR_SHINGLE, raw=True)
    out = np.full((n, k), _MERSENNE, dtype=np.int64)
    if h.size:
        # seg is sorted (windows are emitted doc by doc), so the segment
        # minimum is a reduceat over run boundaries — same min per doc as
        # np.minimum.at (min is order-free over ints → bit-identical
        # signatures), but a contiguous C reduction instead of 20M+
        # scattered single-element updates (~10x on the signature pass)
        run_starts = np.concatenate(
            ([0], np.flatnonzero(np.diff(seg)) + 1))
        seg_ids = seg[run_starts]
        for i in range(k):
            vals = (a[i] * h + b[i]) % _MERSENNE
            out[seg_ids, i] = np.minimum.reduceat(vals, run_starts)
    return out


def _band_hash(sig_slice: np.ndarray) -> np.ndarray:
    """Deterministic hash of a [n, rows] signature band. The accumulator
    is pre-reduced mod 2^31 before the multiply so no step exceeds
    ~2.3e18 — exact in int64 AND in DuckDB BIGINT (the old h*1000003
    silently wrapped mod 2^64 in numpy, which SQL cannot replicate)."""
    h = np.zeros(sig_slice.shape[0], dtype=np.int64)
    for j in range(sig_slice.shape[1]):
        h = ((h % (1 << 31)) * 1000003 + sig_slice[:, j]) % _MERSENNE
    return h


_SIG_SCHEMA = "doc_id long, sig array<long>, band_hashes array<long>"


def _sig_table(docs: DataFrame, k: int, bands: int) -> DataFrame:
    """ONE Python pass computing (doc_id, sig, band_hashes) — one row per
    doc (the shared front end of self-dedup and incremental dedup)."""
    rows_per_band = k // bands

    def compute(batches):
        guard_zip_rereads()
        for pdf in batches:
            sig = minhash_signatures_np(pdf["text"].tolist(), k)
            bh = np.stack([
                _band_hash(sig[:, bi * rows_per_band:(bi + 1) * rows_per_band])
                for bi in range(bands)
            ], axis=1)
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].to_numpy(),
                "sig": list(sig),
                "band_hashes": list(bh),
            })

    return docs.select("doc_id", "text").mapInPandas(
        compute, schema=_SIG_SCHEMA)


def _band_rows(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, band_hash): one row per band of each signature row —
    all the banding joins ever shuffle."""
    return sigs.select(
        "doc_id", F.posexplode("band_hashes").alias("band", "band_hash"))


# Hot-band guard for the LSH candidate self-joins: a degenerate band
# bucket (N byte-identical docs agree on EVERY band) otherwise emits
# N²/2 candidate pairs. Capping the MEMBER side of the join at the
# MAX_BAND_MEMBERS smallest doc_ids bounds candidates at N·cap, and the
# connected-component resolution still links every duplicate through
# the capped hub docs (each emits a pair with member rank 1), so dedup
# GROUPS are unchanged for true duplicate classes. ≤ 1000 so the rank
# filter gets the map-side partial WindowGroupLimit (the hot bucket
# ships cap·n_map_tasks rows, not its population — see
# operators/similarity.py MAX_GROUP).
MAX_BAND_MEMBERS = 1000


def _capped_band_pairs(bands_df: DataFrame, keys: list[str],
                       max_members: int) -> DataFrame:
    """(doc_a < doc_b) candidate pairs from band-bucket collisions, with
    the member side rank-capped per bucket (probe side stays whole —
    the same mem/probe split as the ANN scorers and their SQL twins)."""
    mem = rank_cap(bands_df, keys, "doc_id", max_members, "max_members")
    a, b = bands_df.alias("a"), mem.alias("b")
    cond = (F.col("a.doc_id") != F.col("b.doc_id"))
    for kcol in keys:
        cond &= (F.col(f"a.{kcol}") == F.col(f"b.{kcol}"))
    return (
        a.join(b, cond)
        .select(F.least("a.doc_id", "b.doc_id").alias("doc_a"),
                F.greatest("a.doc_id", "b.doc_id").alias("doc_b"))
        .distinct()
    )


def _agreeing_pairs(cand: DataFrame, sigs_a: DataFrame, sigs_b: DataFrame,
                    ids: tuple[str, str], k: int,
                    threshold: float) -> DataFrame:
    """Score candidate pairs by MinHash signature agreement and keep those
    with est_jaccard >= threshold: `ids` names cand's (a, b) id columns,
    whose signatures join back from sigs_a / sigs_b (doc_id, sig). The
    barrier keeps the threshold filter from re-running the interpreted
    zip_with/aggregate fold for every surviving pair."""
    a, b = ids
    sa = sigs_a.select(F.col("doc_id").alias(a), F.col("sig").alias("sig_a"))
    sb = sigs_b.select(F.col("doc_id").alias(b), F.col("sig").alias("sig_b"))
    scored = (
        cand.join(sa, a).join(sb, b)
        .select(
            a, b,
            (F.aggregate(
                F.zip_with("sig_a", "sig_b",
                           lambda x, y: (x == y).cast("int")),
                F.lit(0), lambda acc, v: acc + v,
            ).cast("double") / k).alias("est_jaccard"),
        )
    )
    return (barrier_filter(scored, F.col("est_jaccard") >= threshold)
            .select(a, b, "est_jaccard"))


def minhash_lsh_pairs(docs: DataFrame, threshold: float = 0.7,
                      k: int = MINHASH_K, bands: int = LSH_BANDS,
                      max_band_members: int = MAX_BAND_MEMBERS) -> DataFrame:
    """Candidate near-dup pairs via MinHash banding, scored by signature
    agreement (estimated Jaccard), filtered at `threshold`.

    Shuffle discipline (the 100 TB shape):
      1. ONE Python pass computes (doc_id, sig, band_hashes) — one row per
         doc, persisted (it is consumed twice).
      2. The banding join shuffles ONLY (doc_id, band, band_hash) — 20 B
         per band row; the 32-long signature never rides the band explode
         (r01 shipped 256 longs/doc through this exchange).
      3. The candidate join caps its member side per band bucket
         (_capped_band_pairs) so a degenerate hot bucket emits N·cap
         pairs, never N²/2.
      4. The signature table joins back on the (rare) CANDIDATE pairs only
         to count agreeing components.
    The text never shuffles anywhere.
    """
    # localCheckpoint, not persist(): the signature table has two consumers
    # (band explode + candidate join-back), and a bare persist() here would
    # leak a cached DataFrame per call for the session lifetime — gate and
    # bench sweeps call this repeatedly. Checkpoint blocks are reclaimed
    # with the lineage when the returned plan is garbage collected.
    sig_df = _sig_table(docs, k, bands).localCheckpoint()
    cand = _capped_band_pairs(_band_rows(sig_df), ["band", "band_hash"],
                              max_band_members)
    return _agreeing_pairs(cand, sig_df, sig_df, ("doc_a", "doc_b"), k,
                           threshold)


# ---------------------------------------------------------------------------
# line-level corpus dedup (C4-style: drop lines duplicated across docs)
# ---------------------------------------------------------------------------

def _keep_first(pieces: DataFrame, hash_col: str, eligible, pos_col: str,
                piece_col: str, sep: str, count_col: str,
                dropped_col: str) -> DataFrame:
    """First-occurrence keep + reassembly shared by dedup_lines and
    dedup_spans. `pieces` holds (doc_id, pos_col, piece_col, hash_col)
    rows; an `eligible` piece (boolean Column) survives only at the
    min (doc_id, pos_col) of its hash, an ineligible one always. Returns
    (doc_id, text_deduped, count_col, dropped_col), pieces rejoined with
    `sep` in position order.

    First occurrences come from groupBy(hash).min(struct(doc_id, pos))
    joined back on the hash — NOT a rank window: the most-duplicated
    piece (the boilerplate these operators target) is one hot key, and a
    window would serialize all its copies into a single partition's
    sort, while the min-struct aggregate is map-side combinable (each
    input partition contributes one candidate per distinct hash) and the
    join-back is a skew-splittable SMJ under AQE. Reassembly shuffles on
    doc_id; a doc's collected pieces total ≤ its original text, which
    already existed as one row — no new giant-row failure mode."""
    firsts = (pieces.filter(eligible).groupBy(hash_col)
              .agg(F.min(F.struct("doc_id", pos_col)).alias("_first")))
    kept = (pieces.join(firsts, hash_col, "left")
            .withColumn("_keep", (~eligible)
                        | (F.struct("doc_id", pos_col) == F.col("_first"))))
    return kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(
                    F.when(F.col("_keep"), F.struct(pos_col, piece_col)))),
                lambda s: s[piece_col]),
            sep).alias("text_deduped"),
        F.count(F.lit(1)).alias(count_col),
        F.count_if(~F.col("_keep")).alias(dropped_col),
    )


def dedup_lines(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """C4-style line-level dedup: a line occurring in MORE than one place
    across the corpus survives only at its FIRST occurrence (min doc_id,
    then min position); every other copy is dropped. Returns
    (doc_id, text_deduped, n_lines, n_lines_dropped) with original line
    order preserved.

    Plan: posexplode lines (narrow) → normalized-line md5 → first
    occurrence per hash and per-doc reassembly (_keep_first: a
    map-side-combinable min-struct aggregate, not a rank window).
    Deterministic under any partitioning; empty/whitespace lines are
    never dropped (they carry no content and would all collide).

    SIDE EFFECT (r4 ADVICE): building this plan runs an EAGER Spark
    job — the multi-consumer intermediate is localCheckpointed, which
    materializes it in executor storage at plan-construction time and
    DROPS its lineage (an executor loss downstream fails the query
    instead of recomputing). The alternative — recomputing the
    subtree once per consumer — costs more than the replay risk
    here; callers composing fully-lazy plans should expect the
    materialization."""
    lines = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    norm = F.regexp_replace(F.regexp_replace(F.lower(F.col("line")),
                                             "[ \t\r]+", " "), "^ | $", "")
    # two consumers (first-occurrence agg + keep join): materialize the
    # explode+normalize+md5 work once instead of re-scanning the corpus
    hashed = lines.withColumn("_blank", norm == "") \
        .withColumn("_h", F.md5(norm)).localCheckpoint()
    return _keep_first(hashed, "_h", ~F.col("_blank"), "pos", "line", "\n",
                       "n_lines", "n_lines_dropped")


def dedup_lines_sql(
        source_sql: str = "SELECT doc_id, text FROM documents") -> str:
    """DuckDB twin of dedup_lines over any (doc_id, text) source."""
    return f"""
WITH src AS ({source_sql}),
lines AS (
  SELECT doc_id, CAST(p - 1 AS INT) AS pos, ls[p] AS line
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM src),
       LATERAL unnest(range(1, len(ls) + 1)) AS u(p)
),
hashed AS (
  SELECT *, n = '' AS blank, md5(n) AS h FROM (
    SELECT doc_id, pos, line,
      regexp_replace(regexp_replace(lower(line), '[ \t\r]+', ' ', 'g'),
                     '^ | $', '', 'g') AS n
    FROM lines)
),
ranked AS (
  SELECT doc_id, pos, line,
    blank OR row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) = 1
      AS keep
  FROM hashed
)
SELECT doc_id,
  coalesce(string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY pos),
           '') AS text_deduped,
  count(*) AS n_lines,
  count(*) FILTER (WHERE NOT keep) AS n_lines_dropped
FROM ranked GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# span-level corpus dedup (Lee-et-al-style: drop duplicated ~N-token spans)
# ---------------------------------------------------------------------------

SPAN_BP_HEX = "0"    # P(breakpoint) = 1/16 → mean span ≈ 16 words
MIN_SPAN_WORDS = 8   # spans shorter than this never dedup (too generic)


def dedup_spans(docs: DataFrame, text_col: str = "text",
                min_span_words: int = MIN_SPAN_WORDS) -> DataFrame:
    """Substring-level exact dedup: a duplicated ~16-word SPAN survives
    only at its first (doc_id, position) occurrence, even when the copy
    sits mid-line or at a different offset — the granularity between
    document-level (exact/MinHash) and line-level (dedup_lines) dedup
    that real curation pipelines run (Lee et al., "Deduplicating
    Training Data Makes Language Models Better").

    Spans come from CONTENT-DEFINED CHUNKING, not fixed tiling: a word is
    a span boundary iff the first hex digit of md5(lower(word)) is
    SPAN_BP_HEX (P = 1/16 → mean span ≈ 16 words). Boundaries depend only
    on the words themselves, so a copied paragraph RE-ALIGNS to the same
    spans no matter what precedes it (the rsync/LBFS trick) — a fixed
    window would only catch offset-preserved copies. Spans under
    `min_span_words` are exempt (a bare common word must not dedup).

    Plan and skew shape (same discipline as dedup_lines): posexplode
    words (narrow) → per-doc window cumsum for the chunk id (partitioned
    by doc_id — bounded by the doc, never a corpus-wide key) → span
    assembly (doc-keyed shuffle) → first occurrence per span hash and
    reassembly keyed by doc_id (_keep_first). Output text is whitespace-
    normalized (single spaces) — span removal has no faithful byte-level
    splice anyway. Returns (doc_id, text_deduped, n_spans,
    n_spans_dropped) for EVERY input doc (empty docs pass through).

    SIDE EFFECT (r4 ADVICE): building this plan runs an EAGER Spark
    job (default-eager localCheckpoint of the multi-consumer
    intermediate) and drops its lineage — see dedup_lines for the
    full tradeoff.
    """
    from pyspark.sql import Window

    words = docs.select(
        "doc_id",
        F.posexplode(ws_words(F.col(text_col))).alias("pos", "word"),
    )
    brk = (F.substring(F.md5(F.lower(F.col("word"))), 1, 1)
           == SPAN_BP_HEX).cast("int")
    w_cum = (Window.partitionBy("doc_id").orderBy("pos")
             .rowsBetween(Window.unboundedPreceding, -1))
    ch = words.withColumn("chunk",
                          F.coalesce(F.sum(brk).over(w_cum), F.lit(0)))
    spans = (
        ch.groupBy("doc_id", "chunk")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "word"))),
                    lambda s: s["word"]), " ").alias("span"),
            F.count(F.lit(1)).alias("n_words"),
            F.min("pos").alias("start_pos"),
        )
        .withColumn("_fp", F.md5(F.lower(F.col("span"))))
        .withColumn("_elig", F.col("n_words") >= min_span_words)
        # two consumers (first-occurrence agg + keep join) — without this
        # the whole explode→window→assemble subtree runs TWICE
        # (plan-verified); same materialize-once discipline as the
        # minhash signature table
        .localCheckpoint()
    )
    out = _keep_first(spans, "_fp", F.col("_elig"), "start_pos", "span", " ",
                      "n_spans", "n_spans_dropped")
    return (docs.select("doc_id").join(out, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("text_deduped", F.lit("")).alias("text_deduped"),
                F.coalesce("n_spans", F.lit(0)).cast("long")
                .alias("n_spans"),
                F.coalesce("n_spans_dropped", F.lit(0)).cast("long")
                .alias("n_spans_dropped")))


def dedup_spans_sql(
        source_sql: str = "SELECT doc_id, text FROM documents",
        min_span_words: int = MIN_SPAN_WORDS) -> str:
    """DuckDB twin of dedup_spans over any (doc_id, text) source — same
    split, same md5 breakpoint rule, same first-occurrence policy, same
    single-space reassembly."""
    return f"""
WITH src AS ({source_sql}),
w0 AS (
  SELECT doc_id, {ws_words_sql('text')} AS ws
  FROM src
),
words AS (
  SELECT doc_id, CAST(p - 1 AS BIGINT) AS pos, ws[p] AS word
  FROM w0, LATERAL unnest(range(1, len(ws) + 1)) AS u(p)
),
ch AS (
  SELECT doc_id, pos, word,
    coalesce(sum(CASE WHEN substr(md5(lower(word)), 1, 1) = '{SPAN_BP_HEX}'
                 THEN 1 ELSE 0 END)
      OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk
  FROM words
),
spans AS (
  SELECT doc_id, chunk,
    string_agg(word, ' ' ORDER BY pos) AS span,
    count(*) AS n_words, min(pos) AS start_pos
  FROM ch GROUP BY doc_id, chunk
),
marked AS (
  SELECT *, md5(lower(span)) AS fp,
    n_words >= {min_span_words} AS elig
  FROM spans
),
ranked AS (
  SELECT *, (NOT elig) OR row_number() OVER (
      PARTITION BY fp, elig ORDER BY doc_id, start_pos) = 1 AS keep
  FROM marked
),
agg AS (
  SELECT doc_id,
    string_agg(CASE WHEN keep THEN span END, ' ' ORDER BY start_pos)
      AS text_deduped,
    count(*) AS n_spans,
    count(*) FILTER (WHERE NOT keep) AS n_spans_dropped
  FROM ranked GROUP BY doc_id
)
SELECT s.doc_id,
  coalesce(a.text_deduped, '') AS text_deduped,
  coalesce(a.n_spans, 0) AS n_spans,
  coalesce(a.n_spans_dropped, 0) AS n_spans_dropped
FROM src s LEFT JOIN agg a ON s.doc_id = a.doc_id
"""


# ---------------------------------------------------------------------------
# incremental dedup: MinHash index of the KEPT corpus, queried per batch
# ---------------------------------------------------------------------------

from dataclasses import dataclass, field


@dataclass
class MinHashIndex:
    """A built corpus index for INCREMENTAL dedup (the daily-ingestion
    shape: dedup each new batch against everything already kept without
    re-sweeping the corpus). `sigs` is the materialized signature table
    (minhash_build: localCheckpointed; minhash_load: persisted, so the
    loader owns sigs.unpersist()); `bands` derives from it lazily."""

    sigs: DataFrame          # (doc_id, sig, band_hashes)
    k: int
    n_bands: int
    _capped: dict = field(default_factory=dict, repr=False, compare=False)

    @property
    def bands(self) -> DataFrame:
        return _band_rows(self.sigs)

    def capped_bands(self, max_members: int) -> DataFrame:
        """Rank-capped band table (the `max_members` smallest doc_ids per
        (band, band_hash) bucket — the hot-band guard pool). For a STATIC
        index this is a pure function of the corpus, so it is computed
        ONCE per index (lazily checkpointed, materialized by the first
        queried batch) instead of re-running the explode + window rank
        over the whole corpus band table for EVERY incremental batch —
        the build-once/query-many shape the index exists for."""
        if max_members not in self._capped:
            self._capped[max_members] = rank_cap(
                self.bands, ["band", "band_hash"], "doc_id", max_members,
                "max_band_members").localCheckpoint(eager=False)
        return self._capped[max_members]


def minhash_build(docs: DataFrame, k: int = MINHASH_K,
                  bands: int = LSH_BANDS) -> MinHashIndex:
    """Signature the corpus once; the index is reused for every batch.
    The table is localCheckpointed: reclaimed with its lineage, so a
    build can never leak executor cache."""
    return MinHashIndex(_sig_table(docs, k, bands).localCheckpoint(), k,
                        bands)


# the meta fields of a MinHash index; io.save_index appends its own
_META_SCHEMA = "k int, n_bands int"


def minhash_save(index: MinHashIndex, path: str,
                 buckets: int | None = None) -> None:
    """Persist the index across jobs: signatures + params, all written
    through Spark (no driver-local filesystem assumptions).

    `buckets`: write the signature table BUCKETED + SORTED on doc_id (an
    external table at path/sigs, its catalog name derived from the
    path) — the 10^12-doc shape: the candidate join-back keys on
    doc_id, and a bucketed index side joins with ZERO exchange on the
    index (pay the shuffle once at build time, never per batch;
    plan-asserted in tests/test_dedup.py). Bucketed METADATA lives in the
    session catalog — on a cluster that is the shared metastore; loading
    from a catalog that lacks the table falls back to a plain parquet
    read of the same files (correct, just re-shuffled per join)."""
    from .. import io as dq_io

    dq_io.save_index(index.sigs, path, "sigs", (index.k, index.n_bands),
                     _META_SCHEMA, buckets=buckets,
                     key=("doc_id",), sort=("doc_id",))


def minhash_load(spark, path: str) -> MinHashIndex:
    """Load a saved index; a bucketed save is read through its catalog
    table (zero-exchange join-back), falling back to the plain parquet
    files when the catalog doesn't know it (fresh session, no shared
    metastore)."""
    from .. import io as dq_io

    meta, sigs = dq_io.load_index(spark, path, "sigs", _META_SCHEMA)
    return MinHashIndex(sigs.persist(), meta["k"], meta["n_bands"])


def incremental_dedup_pairs(index: MinHashIndex, new_docs: DataFrame,
                            threshold: float = 0.7,
                            max_band_members: int = MAX_BAND_MEMBERS
                            ) -> DataFrame:
    """(new_doc, corpus_doc, est_jaccard) pairs: each NEW document's
    band collisions against the indexed corpus, verified by signature
    agreement — the per-batch dedup decision set. Shuffle: the new
    batch's (doc_id, band, band_hash) rows against the index bands
    (O(batch·bands), never O(corpus²)); the CORPUS side of the join is
    rank-capped per band bucket (hot-band guard: a boilerplate class in
    the corpus otherwise multiplies every matching new doc by its whole
    population); signatures join back on the candidate pairs only."""
    new_sig = _sig_table(new_docs, index.k, index.n_bands).localCheckpoint()
    # rank cap computed once per index, not once per batch
    cbands = index.capped_bands(max_band_members)
    cand = (
        _band_rows(new_sig).alias("n").join(
            cbands.alias("c"),
            (F.col("n.band") == F.col("c.band"))
            & (F.col("n.band_hash") == F.col("c.band_hash")))
        .select(F.col("n.doc_id").alias("new_doc"),
                F.col("c.doc_id").alias("corpus_doc"))
        .distinct()
    )
    return _agreeing_pairs(cand, new_sig, index.sigs,
                           ("new_doc", "corpus_doc"), index.k, threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32


def simhash_np(texts: list) -> np.ndarray:
    """32-bit SimHash per text from char-trigram bucket hashes (vectorized:
    per-bit signed segment sums)."""
    n = len(texts)
    buf, starts, _ = hashing.encode_batch(texts, max_bytes=_MAX_BYTES)
    hv, seg, _ = hashing.ngram_hashes(buf, starts, 3, raw=True)
    out = np.zeros(n, dtype=np.int64)
    for bit in range(SIMHASH_BITS):
        signed = (((hv >> bit) & 1) * 2 - 1).astype(np.float64)
        tot = hashing.segment_sum(signed, seg, n)
        out |= (tot > 0).astype(np.int64) << bit
    return out


def simhash_pairs(docs: DataFrame, max_hamming: int = 3,
                  max_band_members: int = MAX_BAND_MEMBERS) -> DataFrame:
    """Near-dup pairs with SimHash hamming distance ≤ max_hamming.

    LSH by pigeonhole: split 32 bits into max_hamming+1 bands; any pair
    within the distance agrees exactly on ≥1 band → band-equality join
    finds all of them without a quadratic scan. The join's member side
    is rank-capped per band bucket (same hot-band guard as
    minhash_lsh_pairs — a degenerate identical-doc class stays N·cap).

    SIDE EFFECT (r4 ADVICE): building this plan runs an EAGER Spark
    job (default-eager localCheckpoint of the multi-consumer
    intermediate) and drops its lineage — see dedup_lines for the
    full tradeoff.
    """
    n_bands = max_hamming + 1
    width = SIMHASH_BITS // n_bands

    def compute(batches):
        guard_zip_rereads()
        for pdf in batches:
            sh = simhash_np(pdf["text"].tolist())
            base = pd.DataFrame({"doc_id": pdf["doc_id"].to_numpy(),
                                 "simhash": sh})
            parts = []
            for bi in range(n_bands):
                band = (sh >> (bi * width)) & ((1 << width) - 1)
                parts.append(base.assign(band=np.int32(bi), band_key=band))
            yield pd.concat(parts, ignore_index=True)

    sig = docs.select("doc_id", "text").mapInPandas(
        compute, schema="doc_id long, simhash long, band int, band_key long"
    ).localCheckpoint()  # probe + member-rank consumers
    mem = rank_cap(sig, ["band", "band_key"], "doc_id", max_band_members,
                   "max_band_members")
    a, b = sig.alias("a"), mem.alias("b")
    pairs = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.band_key") == F.col("b.band_key"))
               & (F.col("a.doc_id") != F.col("b.doc_id")))
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .groupBy("doc_a", "doc_b")
        .agg(F.min("hamming").alias("hamming"))
    )
    return pairs


# ---------------------------------------------------------------------------
# DuckDB twins for the signature paths (r02: formerly rows-only)
# ---------------------------------------------------------------------------
#
# The byte-level hashing (models/hashing.py) is replicated in SQL:
# per-position codepoints stand in for UTF-8 bytes — EXACT on the ASCII
# documents fixture (verified: zero non-ASCII rows at every sf; the gate
# would diverge on non-ASCII corpora and says so). Every arithmetic step
# stays below 2^62 so BIGINT and int64 agree; the 32-bit finalizer
# (h * 2654435761 mod 2^32) is computed via a 16-bit split because the
# direct product would overflow BIGINT (numpy wraps mod 2^64, which is
# congruent mod 2^32 — the split reproduces exactly that).


def _byte_poly_sql(order: int) -> str:
    """Rolling polynomial + 32-bit mix over `order` consecutive bytes —
    the SQL form of the one numpy kernel, hashing.ngram_hashes(raw=True)
    (formula: hashing.window_hash). Each step is reduced mod 2^48 and the
    mix goes through the 16-bit split so no BIGINT step overflows; both
    leave the low 32 bits numpy's wrapping int64 gives. Change the two
    together."""
    e = "bts[CAST(i+1 AS INT)]"
    for j in range(2, order + 1):
        e = f"(({e}) * 31 + bts[CAST(i+{j} AS INT)]) % 281474976710656"
    p = f"(({e}) % 4294967296)"
    return (f"((((({p}) // 65536) * 2654435761) % 4294967296) * 65536"
            f" + (({p}) % 65536) * 2654435761) % 4294967296")


def _bytes_cte(table: str = "documents") -> str:
    return f"""bt AS (
  SELECT doc_id, list_transform(range(1, length(substr(text,1,{_MAX_BYTES}))+1),
         i -> unicode(substr(text, CAST(i AS INT), 1))) AS bts
  FROM {table}
)"""


def _minhash_sql(k: int, bands: int, table: str, cand: str,
                 ids: tuple[str, str], threshold: float) -> str:
    """The MinHash SQL core shared by both twins: signatures (permutation
    constants embedded), band hashes, then the `cand` CTEs (a `cand` of
    (ids[0], ids[1]) pairs, plus whatever it needs) and the signature
    agreement filter — emits (ids[0], ids[1], est_u) where
    est_u = floor(n_agree/k * 1e6), exact in both engines."""
    rows_per_band = k // bands
    a, b = _perm_params(k)
    perm_rows = ", ".join(
        f"({i}, {int(a[i])}, {int(b[i])})" for i in range(k))
    bh = "s[1]"
    for j in range(1, rows_per_band):
        bh = (f"(({bh} % 2147483648) * 1000003 + s[{j + 1}])"
              f" % {_MERSENNE}")
    x, y = ids
    return f"""
WITH {_bytes_cte(table)},
hs AS (
  SELECT doc_id, CASE WHEN len(bts) >= {_CHAR_SHINGLE}
    THEN list_transform(range(0, len(bts)-{_CHAR_SHINGLE - 1}),
                        i -> {_byte_poly_sql(_CHAR_SHINGLE)})
    ELSE [] END AS h
  FROM bt
),
perms(p, a, b) AS (VALUES {perm_rows}),
sigs AS (
  SELECT doc_id, p,
    coalesce(list_min(list_transform(h, x -> (a*x + b) % {_MERSENNE})),
             {_MERSENNE}) AS sig
  FROM hs, perms
),
bh AS (
  SELECT doc_id, band, {bh} AS band_hash FROM (
    SELECT doc_id, p // {rows_per_band} AS band,
           list(sig ORDER BY p) AS s
    FROM sigs GROUP BY doc_id, p // {rows_per_band}
  )
),
{cand},
agree AS (
  SELECT c.{x}, c.{y},
    sum(CASE WHEN sa.sig = sb.sig THEN 1 ELSE 0 END) AS n_agree
  FROM cand c
  JOIN sigs sa ON sa.doc_id = c.{x}
  JOIN sigs sb ON sb.doc_id = c.{y} AND sb.p = sa.p
  GROUP BY c.{x}, c.{y}
)
SELECT {x}, {y},
  CAST(floor(CAST(n_agree AS DOUBLE) / {k} * 1e6) AS BIGINT) AS est_u
FROM agree WHERE CAST(n_agree AS DOUBLE) / {k} >= {threshold}
"""


def minhash_pairs_sql(threshold: float = 0.5, k: int = MINHASH_K,
                      bands: int = LSH_BANDS,
                      table: str = "documents",
                      max_band_members: int = MAX_BAND_MEMBERS) -> str:
    """DuckDB twin of minhash_lsh_pairs: same signatures, same banding,
    same rank-capped candidate join, same estimated-Jaccard filter."""
    cand = f"""mem AS (
  SELECT doc_id, band, band_hash,
    row_number() OVER (PARTITION BY band, band_hash ORDER BY doc_id) AS rk
  FROM bh
),
cand AS (
  SELECT DISTINCT least(a.doc_id, m.doc_id) AS doc_a,
                  greatest(a.doc_id, m.doc_id) AS doc_b
  FROM bh a JOIN mem m ON a.band = m.band AND a.band_hash = m.band_hash
  WHERE m.rk <= {max_band_members} AND a.doc_id <> m.doc_id
)"""
    return _minhash_sql(k, bands, table, cand, ("doc_a", "doc_b"),
                        threshold)


def incremental_minhash_sql(corpus_where: str, new_where: str,
                            threshold: float = 0.5, k: int = MINHASH_K,
                            bands: int = LSH_BANDS,
                            table: str = "documents",
                            max_band_members: int = MAX_BAND_MEMBERS
                            ) -> str:
    """DuckDB twin of minhash_build + incremental_dedup_pairs over two
    WHERE-disjoint slices of one table."""
    cand = f"""cm AS (
  SELECT *, row_number() OVER (PARTITION BY band, band_hash
                               ORDER BY doc_id) AS rk
  FROM (SELECT bh.* FROM bh JOIN {table} d USING (doc_id)
        WHERE {corpus_where})
),
cand AS (
  SELECT DISTINCT n.doc_id AS new_doc, c.doc_id AS corpus_doc
  FROM (SELECT bh.* FROM bh JOIN {table} d USING (doc_id)
        WHERE {new_where}) n
  JOIN cm c
    ON n.band = c.band AND n.band_hash = c.band_hash
  WHERE c.rk <= {max_band_members}
)"""
    return _minhash_sql(k, bands, table, cand, ("new_doc", "corpus_doc"),
                        threshold)


def simhash_pairs_sql(max_hamming: int = 3,
                      table: str = "documents",
                      max_band_members: int = MAX_BAND_MEMBERS) -> str:
    """DuckDB twin of simhash_pairs: same trigram hashes, per-bit signed
    sums, pigeonhole banding, rank-capped join and hamming filter."""
    n_bands = max_hamming + 1
    width = SIMHASH_BITS // n_bands
    return f"""
WITH {_bytes_cte(table)},
hs AS (
  SELECT doc_id, CASE WHEN len(bts) >= 3
    THEN list_transform(range(0, len(bts)-2), i -> {_byte_poly_sql(3)})
    ELSE [] END AS h
  FROM bt
),
w AS (SELECT doc_id, unnest(h) AS h FROM hs),
bits AS (
  SELECT w.doc_id, b,
    CASE WHEN sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) > 0
    THEN (CAST(1 AS BIGINT) << b) ELSE 0 END AS bit
  FROM w, range(0, {SIMHASH_BITS}) rb(b) GROUP BY w.doc_id, b
),
sim0 AS (SELECT doc_id, CAST(sum(bit) AS BIGINT) AS simhash
         FROM bits GROUP BY doc_id),
sim AS (
  SELECT d.doc_id, coalesce(s.simhash, 0) AS simhash
  FROM {table} d LEFT JOIN sim0 s ON d.doc_id = s.doc_id
),
banded AS (
  SELECT doc_id, simhash, b AS band,
         (simhash >> (b * {width})) & {(1 << width) - 1} AS band_key
  FROM sim, range(0, {n_bands}) rb(b)
),
mem AS (
  SELECT *, row_number() OVER (PARTITION BY band, band_key
                               ORDER BY doc_id) AS rk
  FROM banded
),
pairs AS (
  SELECT least(a.doc_id, m.doc_id) AS doc_a,
         greatest(a.doc_id, m.doc_id) AS doc_b,
    bit_count(xor(a.simhash, m.simhash)) AS hamming
  FROM banded a JOIN mem m
    ON a.band = m.band AND a.band_key = m.band_key
   AND a.doc_id <> m.doc_id
  WHERE m.rk <= {max_band_members}
)
SELECT doc_a, doc_b, CAST(min(hamming) AS BIGINT) AS hamming
FROM pairs WHERE hamming <= {max_hamming} GROUP BY doc_a, doc_b
"""


def apply_dedup(docs: DataFrame, groups: DataFrame,
                id_col: str = "doc_id",
                max_broadcast_drops: int | None = 1_000_000) -> DataFrame:
    """Materialize the DEDUPLICATED corpus: keep every document that is
    either untouched by the group table or its group's canonical
    representative (group_id == its own id, resolve_groups' convention).

    Join-strategy guard: a broadcast anti-join keeps the corpus from ever
    shuffling, but the drop set is O(corpus × dup-rate) — at a realistic
    30-50 % duplication rate over 100 TB it is billions of ids, and an
    UNCONDITIONAL broadcast is an executor/driver OOM. So the drop set is
    lazily checkpointed (ids only) and broadcasts only when a BOUNDED
    probe — limit(max+1).count(), whose cost is capped by the threshold,
    not the drop-set size — stays within `max_broadcast_drops` (default
    10^6 ids ≈ 8 MB); above that the anti-join falls back to a plain
    shuffle on `id_col`, where AQE may still pick a broadcast at runtime
    if actual bytes allow. Pass None to always take the shuffled path.

    NOTE: with the guard enabled this function runs an EAGER Spark job at
    plan-construction time (the probe count). Callers composing plans
    without executing them should pass max_broadcast_drops=None to stay
    fully lazy.
    """
    drops = (groups.filter(F.col(id_col) != F.col("group_id"))
             .select(id_col))
    if max_broadcast_drops is not None:
        drops = drops.localCheckpoint(eager=False)
        probe = drops.limit(max_broadcast_drops + 1).count()
        if probe <= max_broadcast_drops:
            return docs.join(F.broadcast(drops), id_col, "left_anti")
    return docs.join(drops, id_col, "left_anti")
