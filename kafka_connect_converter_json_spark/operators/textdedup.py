"""Deduplication families for training-data pipelines.

Exact (hash-groupBy), n-gram Jaccard (shingle self-join), MinHash+LSH
(shingle -> minhash signature -> band buckets -> candidate join), and
SimHash (bitwise majority over token hashes). All built from DataFrame
ops; the only Python is plan construction.

Scale notes (the 100 TB story):

- **exact_duplicates**: one shuffle on the 32-hex md5 key; map-side
  combine collapses per-partition duplicates first. Fingerprint, don't
  shuffle full text.
- **ngram-Jaccard**: the naive all-pairs join is O(n^2) — never shipped.
  The shingle self-join is the inverted-index form: shuffle keyed by
  shingle, pairs generated only where a shingle co-occurs. Frequent
  shingles are the skew hazard: ``max_shingle_freq`` drops
  super-frequent shingles (stopword shingles match everything and
  contribute candidates without discriminating — standard df-cut).
- **MinHash+LSH**: signatures are k aggregations over the exploded
  shingle table (one shuffle on doc id); banding turns near-dup search
  into an equality join on band keys — O(candidates), not O(n^2).
  MinHash here is *lexicographic min of md5(seed:shingle)* — a valid
  min-wise permutation family that is reproducible in any engine with
  md5 (the DuckDB oracle runs the identical formula).
- **SimHash**: 64 weighted bit-majorities per doc — one groupBy over
  exploded tokens; near-dup candidates join on rotated prefix bands.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import normalize_text


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup over normalized text: one row per duplicate group with
    the representative (min id) and the group size. Only groups with >1
    member are returned (the dedup 'kill list' generator)."""
    fp = df.select(F.col(id_col), F.md5(normalize_text(F.col(text_col))).alias("fp"))
    return (
        fp.groupBy("fp")
        .agg(F.min(id_col).alias("representative"), F.count(F.lit(1)).alias("group_size"))
        .filter(F.col("group_size") > 1)
    )


def shingle_array(text_col, n: int = 3, dedupe: bool = True):
    """Column expression: the word-n-gram shingle array of a text column
    (normalized, optionally per-doc deduped). Exposed separately so
    consumers that only need per-doc CARDINALITY (Jaccard set sizes) can
    take ``F.size(...)`` of it as a pure projection — no explode, no
    hash, no aggregation.

    Built as a fold of ``zip_with`` over the token array zipped against
    its own (k)-shifted slices: n-1 linear array passes total, vs one
    ``slice+concat_ws`` allocation PER SHINGLE in the naive
    transform(sequence) form — measured 5x faster at sf0.1 and
    element-identical (zip_with null-pads the tail; concat_ws drops
    nulls; the final slice cuts the short tail entries)."""
    toks = F.split(normalize_text(text_col), " ")
    n_sh = F.size(toks) - (n - 1)
    acc = toks
    for k in range(1, n):
        shifted = F.slice(toks, k + 1, F.greatest(F.size(toks) - k, F.lit(0)))
        acc = F.zip_with(acc, shifted, lambda a, b: F.concat_ws(" ", a, b))
    shingles = F.when(
        n_sh >= 1, F.slice(acc, 1, F.greatest(n_sh, F.lit(1)))
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(shingles) if dedupe else shingles


def shingle_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3,
    dedupe: bool = True,
) -> DataFrame:
    """Word n-gram shingles per doc: (id, shingle). JVM-side:
    split -> transform(sequence) [-> array_distinct] -> explode.

    ``dedupe=True`` dedupes WITHIN the per-document shingle array
    (``array_distinct`` in the projection) — a (id, shingle) pair can
    only repeat inside one document, so per-row dedup is exactly global
    (id, shingle) distinct with ZERO shuffle (the r1/r2 global
    ``.distinct()`` paid a full shuffle of the exploded table for what
    one co-located array pass computes). ``dedupe=False`` skips even
    that: correct for consumers whose aggregate is duplicate-insensitive
    (min/max — the MinHash path); True is REQUIRED for set-cardinality
    consumers (Jaccard counts common shingles)."""
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(shingle_array(F.col(text_col), n, dedupe)).alias("shingle"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = 1000,
    hash_shingles: bool = True,
    cut_strategy: str = "broadcast_hot",
    pair_chunk: int = 128,
) -> DataFrame:
    """Near-dup pairs by word-n-gram Jaccard >= threshold.

    Inverted-index join: pairs are only generated for docs sharing a
    shingle. ``max_shingle_freq`` is the df-cut that bounds the skew of
    the self-join (a shingle appearing in f docs contributes f^2/2
    candidate pairs).

    ``hash_shingles`` (default) replaces the shingle string with the
    60-bit int from its md5 prefix BEFORE any shuffle: 8-byte fixed-width
    keys instead of arbitrary-length strings cut the shuffle volume of
    the dominant stages severalfold. The formula
    (conv(substr(md5, 1, 15), 16, 10)) is engine-portable, so oracles
    replicate it; within-doc collisions (~n_shingles/2^60) would shrink a
    doc's set size identically in any engine running the same formula.

    Plan shape (VERDICT r2 #4 — NOTHING is cached; at 100 TB caching the
    exploded shingle table, which is larger than the corpus, is a
    memory/disk hazard; the shingle projection recomputes per branch,
    each a column-pruned scan):

    - shingles are deduped per document INSIDE the projection
      (``array_distinct`` — see ``shingle_table``), so no global
      distinct shuffle and no count-distinct machinery exist anywhere;
      every aggregation below is a plain map-side-partial count.
    - ``sizes``: ``F.size`` of the per-doc shingle array — a pure
      projection with no explode, no hashing, and no aggregation (a
      doc's set size is known before its shingles ever leave the row).
    - df-cut: one count keyed by shingle; rare shingles semi-join back
      BEFORE ids are collected, so a stopword shingle's doc list is
      never materialized.
    - candidate pairs: ``collect_list(id)`` per surviving shingle, pairs
      generated IN-PLACE by an array-combinations projection — no
      self-join shuffle at all. Per-shingle fan-out is bounded by the
      df-cut (f^2/2 <= max_shingle_freq^2/2 structs per array).
    - with ``max_shingle_freq=None`` nothing bounds a hot shingle, so the
      pair stage falls back to the classic inverted-index self-join,
      which spreads the f^2 blowup across the cluster instead of
      building one giant in-task array."""
    sh = shingle_table(df, text_col, id_col, n, dedupe=True)
    if hash_shingles:
        sh = sh.select(
            "id",
            F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10)
            .cast("long")
            .alias("shingle"),
        )
    # r6: ONE explicit shuffle of the exploded table, reused by every
    # consumer. The df-count, the cut anti-join input, and the id-list
    # collect all need the table keyed by shingle; writing them as
    # independent groupBys re-ran the scan->normalize->shingle->md5
    # pipeline once per branch AND shuffled twice. `repartition(shingle)`
    # makes the exchange subtree identical across branches, so Spark's
    # exchange reuse materializes the shuffle once (ReusedExchange in the
    # plan); the downstream aggregations then run exchange-free on the
    # established partitioning, and `sizes` re-keys by id from the same
    # reused shuffle output instead of rescanning the corpus.
    shp = sh.repartition("shingle")
    # sizes as an aggregation of the (per-doc-distinct) exploded table —
    # exactly the oracle's `sizes AS (SELECT id, count(*) FROM shh GROUP
    # BY id)`. (The r3-r5 form re-ran the whole shingle pipeline as a
    # second full-corpus projection — 6.3s alone at sf1.0.)
    sizes = shp.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))

    if max_shingle_freq is not None:
        counts = shp.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        if cut_strategy == "broadcast_hot":
            # the cut's COMPLEMENT is the small side: shingles with
            # df > cut are the stopword-shingle set, bounded by
            # N_occurrences/cut (for any real corpus: MBs of 8-byte keys,
            # even at petabyte scale with cut=1000). Broadcasting it turns
            # the cut into a map-side anti-filter — the exploded table is
            # shuffled ONCE (for the doc-id lists) instead of twice
            # (measured ~2x on the cut stage vs the semi-join form).
            hot = counts.filter(F.col("df") > max_shingle_freq).select("shingle")
            kept = shp.join(F.broadcast(hot), "shingle", "left_anti")
        else:
            # scale fallback for adversarial vocabularies where even the
            # hot set outgrows a broadcast: shuffle-semi-join against the
            # (vocabulary-sized) rare set
            rare = counts.filter(F.col("df") <= max_shingle_freq).select("shingle")
            kept = shp.join(rare, "shingle", "left_semi")
        # Exact AllPairs/PPJoin prefix+positional candidate generation
        # (r6, guide §1.2 "fix the distributed algorithm first"). The r3-r5
        # form enumerated EVERY co-occurring pair instance and counted them
        # in a pair-keyed aggregate; with a Zipf-ish vocabulary the instance
        # stream grows ~quadratically in corpus size (measured 1.27M at
        # sf0.1 -> 183.5M instances / 164.7M groups at sf1.0 while only
        # ~13.7k pairs survive the threshold). PPJoin enumerates only pairs
        # that collide inside canonical-order PREFIXES and whose match
        # positions leave enough remaining overlap — 53x fewer candidates
        # at sf1.0 (3.49M) — then computes `common` EXACTLY per candidate
        # by intersecting the two docs' kept-shingle arrays.
        #
        # Exactness: for jaccard >= t, common >= t/(1+t)*(sz_a+sz_b)
        # >= t*max(szk_a, szk_b) over the kept arrays (kept = shareable
        # shingles, 2 <= df <= cut; sz >= szk and szb >= common). Let s*
        # be the canonically-least shared kept shingle at ranks (i, j):
        # all shared shingles rank >= s* in both docs, so
        # common <= min(szk_a - i, szk_b - j) + 1 — the positional filter
        # cannot reject s* — and if s* were outside A's prefix of length
        # szk_a - ceil(t*szk_a) + 1 then common <= ceil(t*szk_a) - 1
        # < t*szk_a <= common, a contradiction. Bounds below drop ceil()
        # and subtract an epsilon, which only ADMITS extra candidates —
        # every candidate is re-checked with the exact intersection, so
        # false positives cost a little work and never change the result.
        #
        # Scale shape: the prefix table is ~(1-t) of the kept exploded
        # table; per-shingle fan-out stays bounded by the df-cut; the
        # kept-array table (one row per doc, <= doc shingle count) is
        # joined per candidate — at bench scale Spark broadcasts it, at
        # corpus scale it shuffle-joins keyed by id, each side moved once.
        canon = F.struct(F.col("df"), F.col("shingle"))
        ids_per_shingle = (
            kept.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"), F.collect_list("id").alias("ids"))
            .filter(F.size("ids") >= 2)
        )
        occ = ids_per_shingle.select("shingle", "df", F.explode("ids").alias("id"))
        doc_arr = (
            occ.groupBy("id")
            .agg(F.array_sort(F.collect_list(canon)).alias("_ds"))
            .select(
                "id",
                F.transform("_ds", lambda s: s["shingle"]).alias("arr"),
                F.size("_ds").alias("szk"),
            )
            # doc_arr feeds FOUR consumers (both prefix sides + both
            # intersection attaches); without materialization each re-runs
            # the whole scan->shingle->cut->collect chain (measured: 44
            # Exchanges / 30 scans in the plan, 14s vs 8.4s at sf1.0).
            # O(docs) rows of <= doc-shingle-count hashed longs — at
            # corpus scale this is the natural stage boundary, same as a
            # signature table. AQE picks the attach join sides from the
            # checkpoint's runtime size.
            .localCheckpoint()
        )
        t = float(threshold)
        # prefix length szk - ceil(t*szk) + 1, relaxed (no ceil, -eps)
        lp = (
            F.col("szk")
            - F.ceil(F.lit(t) * F.col("szk") - F.lit(1e-9)).cast("int")
            + 1
        )
        pref = doc_arr.select(
            "id", "szk", F.posexplode(F.slice("arr", 1, lp)).alias("_rk", "shingle")
        )
        a = pref.select(
            "shingle",
            F.col("id").alias("id_a"),
            F.col("_rk").alias("rk_a"),
            F.col("szk").alias("szk_a"),
        )
        b = pref.select(
            "shingle",
            F.col("id").alias("id_b"),
            F.col("_rk").alias("rk_b"),
            F.col("szk").alias("szk_b"),
        )
        req = F.lit(t / (1.0 + t)) * (F.col("szk_a") + F.col("szk_b")) - F.lit(1e-9)
        cand = (
            a.join(b, "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(
                F.least(
                    F.col("szk_a") - F.col("rk_a") - 1, F.col("szk_b") - F.col("rk_b") - 1
                )
                + 1
                >= req
            )
            .select("id_a", "id_b")
            .distinct()
        )
        arr_a = doc_arr.select(F.col("id").alias("id_a"), F.col("arr").alias("_aa"))
        arr_b = doc_arr.select(F.col("id").alias("id_b"), F.col("arr").alias("_ab"))
        common = (
            cand.join(arr_a, "id_a")
            .join(arr_b, "id_b")
            .select(
                "id_a",
                "id_b",
                F.size(F.array_intersect("_aa", "_ab")).alias("common"),
            )
        )
    else:
        # sh rows are already unique per (id, shingle) — the per-doc
        # array_distinct guarantees it — so no distinct shuffle here
        a = sh.select(F.col("shingle"), F.col("id").alias("id_a"))
        b = sh.select(F.col("shingle"), F.col("id").alias("id_b"))
        common = (
            a.join(b, "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("common"))
        )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "common", "sz_a", "sz_b", "jaccard")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    slice_hashes: bool = True,
) -> DataFrame:
    """MinHash signature per doc, one shuffle.

    ``slice_hashes`` (default): h_i = min over shingles of the i-th
    fixed-width hex slice of ONE md5(shingle) — one md5 call per
    (doc, shingle) row instead of ``num_hashes``. Slices of a
    cryptographic hash are independently uniform, so each slice is a
    valid min-wise permutation (the standard one-hash-many-slices
    MinHash trick); requires num_hashes * width <= 32 hex chars.
    ``slice_hashes=False``: the r1 family, h_i = min(md5(f"{i}:" +
    shingle)) — keyed md5 per hash. Both are lexicographic mins of
    fixed-width hex, reproducible in any engine with md5."""
    # duplicate-insensitive aggregate: skip the distinct shuffle
    sh = shingle_table(df, text_col, id_col, n, dedupe=False)
    width = 32 // max(1, num_hashes)
    if width < 4:
        slice_hashes = False  # slices would be <16 bits: use keyed md5 per hash
    if slice_hashes:
        h = F.md5("shingle")
        aggs = [
            F.min(F.substring(h, 1 + i * width, width)).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    else:
        aggs = [
            F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    return sh.groupBy("id").agg(*aggs)


def band_frequency_cut(banded: DataFrame, band_col: str, max_band_freq: int | None) -> DataFrame:
    """df-cut on LSH bands/buckets: drop bands shared by more than
    ``max_band_freq`` rows BEFORE the self-join. A degenerate band shared
    by f docs yields f^2/2 candidate pairs — the one unbounded blowup in
    any banded-LSH join at scale. Dropping a hot band trades a sliver of
    recall for a hard fan-out bound (the same df-cut ``ngram_jaccard_pairs``
    applies to shingles); near-dup recall barely moves because true
    near-dups co-occur in several bands."""
    if max_band_freq is None:
        return banded
    # broadcast the cut's COMPLEMENT: hot bands number at most
    # rows/max_band_freq (a handful of degenerate keys by construction),
    # so the anti-filter is map-side and the banded table shuffles once,
    # not twice (the same inversion as ngram_jaccard's shingle cut)
    hot = (
        banded.groupBy(band_col)
        .agg(F.count(F.lit(1)).alias("_bf"))
        .filter(F.col("_bf") > max_band_freq)
        .select(band_col)
    )
    return banded.join(F.broadcast(hot), band_col, "left_anti")


def banded_self_pairs(
    per: DataFrame,
    band_cols: list[str],
    max_band_freq: int | None,
    id_col: str = "id",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Distinct candidate pairs from a one-row-per-item table with one
    column per LSH band — WITHOUT a pair-level ``.distinct()`` (r6).

    The r2-r5 shape exploded the band columns into a (id, band) table,
    df-cut it, self-joined, and deduped the pair stream with a distinct —
    one full pair-stream shuffle + aggregation whose only job is removing
    the <= ``len(band_cols)``-fold multiplicity. Instead: one self-join
    per band, each filtered by "this pair did NOT already match in an
    earlier KEPT band" (band values and hot flags ride along as a few
    extra columns), which makes the per-band outputs disjoint by
    construction, so the union IS the distinct candidate set. The hot-band
    frequency cut keeps the exact ``band_frequency_cut`` semantics: a row
    in a band whose frequency exceeds the cut does not join in that band,
    and a hot earlier band does not suppress a later match.

    ``carry`` columns are propagated to the output as ``<col>_a/<col>_b``
    (e.g. the simhash value for the exact Hamming re-check).

    Callers should ``localCheckpoint`` ``per`` first when it is the
    product of an expensive aggregation: the helper references it
    2*bands+1 times and Spark does not reuse unmaterialized subtrees
    across join branches (measured: the signature aggregation ran 4x per
    action in the exploded form — zero ReusedExchange nodes)."""
    cut = max_band_freq
    flags = []
    for i, bc in enumerate(band_cols):
        if cut is None:
            per = per.withColumn(f"_hot{i}", F.lit(False))
        else:
            hot = (
                per.groupBy(bc)
                .agg(F.count(F.lit(1)).alias("_f"))
                .filter(F.col("_f") > cut)
                .select(bc, F.lit(True).alias(f"_ishot{i}"))
            )
            per = per.join(F.broadcast(hot), bc, "left").withColumn(
                f"_hot{i}", F.coalesce(F.col(f"_ishot{i}"), F.lit(False))
            ).drop(f"_ishot{i}")
        flags.append(f"_hot{i}")

    out = None
    for i, bc in enumerate(band_cols):
        a_cols = (
            [F.col(bc).alias("_bk"), F.col(id_col).alias("id_a")]
            + [F.col(band_cols[j]).alias(f"_b{j}_a") for j in range(i)]
            + [F.col(flags[j]).alias(f"_h{j}_a") for j in range(i)]
            + [F.col(c).alias(f"{c}_a") for c in carry]
        )
        b_cols = (
            [F.col(bc).alias("_bk"), F.col(id_col).alias("id_b")]
            + [F.col(band_cols[j]).alias(f"_b{j}_b") for j in range(i)]
            + [F.col(c).alias(f"{c}_b") for c in carry]
        )
        a = per.filter(~F.col(flags[i])).select(*a_cols)
        b = per.filter(~F.col(flags[i])).select(*b_cols)
        pairs = a.join(b, "_bk").filter(F.col("id_a") < F.col("id_b"))
        for j in range(i):
            matched_earlier = F.coalesce(
                (F.col(f"_b{j}_a") == F.col(f"_b{j}_b")) & ~F.col(f"_h{j}_a"),
                F.lit(False),
            )
            pairs = pairs.filter(~matched_earlier)
        pairs = pairs.select(
            "id_a", "id_b", *[F.col(f"{c}_a") for c in carry], *[F.col(f"{c}_b") for c in carry]
        )
        out = pairs if out is None else out.unionByName(pairs)
    return out


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    max_band_freq: int | None = 1000,
) -> DataFrame:
    """LSH candidate pairs: split the signature into ``bands`` bands of
    r = num_hashes/bands rows; docs sharing any full band are candidates.
    Matching probability for Jaccard s is 1-(1-s^r)^bands.
    ``max_band_freq`` bounds the per-band join fan-out (see
    ``band_frequency_cut``). r6: the signature table (O(docs) rows of
    num_hashes short strings) is localCheckpoint'd so the expensive
    shingle aggregation runs ONCE per action instead of once per join
    branch, and pairs come from ``banded_self_pairs`` (no pair-stream
    distinct)."""
    assert num_hashes % bands == 0
    r = num_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, n, num_hashes)
    band_cols = [
        F.concat_ws("|", F.lit(str(b)), *[F.col(f"h{b * r + j}") for j in range(r)]).alias(f"_band{b}")
        for b in range(bands)
    ]
    per = sig.select(F.col("id"), *band_cols).localCheckpoint()
    return banded_self_pairs(per, [f"_band{b}" for b in range(bands)], max_band_freq)


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64,
    token_hash: str = "md5",
) -> DataFrame:
    """SimHash per doc over the low ``bits`` (1..64) bits of the token
    hash: bit b of the result is the majority vote of bit b across the
    doc's tokens. One groupBy over exploded tokens; each bit is a
    branchless sum of the extracted bit compared with the token count,
    and the whole aggregate is one SQL expression parsed JVM-side.

    ``token_hash="md5"`` (default) derives the 64-bit token hash from the
    first 16 hex chars of md5 via ``conv(_, 16, -10)`` — reproducible in
    any engine with md5 (the DuckDB oracle runs the identical formula).
    ``"xxhash64"`` is the cheaper JVM-intrinsic variant for production
    runs that don't need cross-engine reproducibility."""
    if not 1 <= bits <= 64:
        raise ValueError(f"bits must be in [1, 64], got {bits}")
    if token_hash == "md5":
        h = F.conv(F.substring(F.md5("tok"), 1, 16), 16, -10).cast("long")
    elif token_hash == "xxhash64":
        h = F.xxhash64("tok")
    else:
        raise ValueError(f"token_hash must be md5|xxhash64, got {token_hash!r}")
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("tok"),
    ).withColumn("h", h)
    # r6: branchless bit-count form — sum the extracted bit ((h>>b)&1)
    # instead of a conditional +/-1 per (token, bit), plus one count(*).
    # Bit b is set iff 2*cnt_b > n, which is exactly vote_b > 0 for
    # integer counts (A/B-equal on the full corpus, ~20% faster: the
    # when() branch per token*bit was the aggregation's hot path).
    # The whole aggregate is rendered as ONE SQL string parsed JVM-side:
    # the per-bit Column construction (64 sums + a 64-term OR tree) cost
    # ~1.4 s of driver py4j round trips per DataFrame build, at every
    # data scale (guide §7.3; same pathology as the LSH sketch builder).
    # Catalyst extracts the 64 sum()s + count(1) into the aggregate node
    # and evaluates the OR tree in the post-aggregation projection —
    # the physical aggregate is identical to the per-Column form.
    terms = " | ".join(
        f"if(sum(shiftrightunsigned(h, {b}) & 1L) * 2L > count(1), shiftleft(1L, {b}), 0L)"
        for b in range(bits)
    )
    return toks.groupBy("id").agg(F.expr(f"({terms})").alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int | None = None,
    token_hash: str = "md5",
    max_band_freq: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Candidate generation by band equality; pigeonhole: distance <= bands-1
    guarantees at least one equal band, so ``bands`` defaults to the
    smallest power-of-two divisor of 64 that is >= max_hamming+1 — exact
    (no missed pairs), then bit_count(xor) re-checks precisely.
    ``max_band_freq`` bounds the per-band fan-out (``band_frequency_cut``)
    but breaks pigeonhole exactness for keys living only in dropped hot
    bands, so it defaults to None (exact); scale runs opt in explicitly
    (the contract query passes 1000 — ADVICE r2)."""
    if bands is None:
        bands = next(b for b in (1, 2, 4, 8, 16, 32, 64) if b >= max_hamming + 1)
    if 64 % bands != 0:
        raise ValueError("bands must divide 64")
    sig = simhash(df, text_col, id_col, token_hash=token_hash)
    width = 64 // bands

    def _band_val(b: int):
        v = F.shiftrightunsigned(F.col("simhash"), b * width)
        if width < 64:  # width==64 (bands=1): the full value IS the band
            v = v.bitwiseAND(F.lit((1 << width) - 1))
        return v

    band_cols = [
        F.concat_ws("|", F.lit(str(b)), _band_val(b).cast("string")).alias(f"_band{b}")
        for b in range(bands)
    ]
    # r6: the simhash aggregation is localCheckpoint'd so the 64-vote
    # groupBy runs once per action, not once per join branch (measured
    # 4 recomputations before). With 4+ bands the per-band-join
    # no-distinct form (banded_self_pairs) costs more in join machinery
    # than the distinct it saves (A/B: 5.3s vs 3.9s at sf1.0 — few
    # candidates here), so the single explode+cut+self-join+distinct
    # stays.
    sig = sig.localCheckpoint()
    banded = sig.select("id", "simhash", F.explode(F.array(*band_cols)).alias("band"))
    banded = band_frequency_cut(banded, "band", max_band_freq)
    a = banded.select("band", F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"))
    b_ = banded.select("band", F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"))
    return (
        a.join(b_, "band")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def top_ngrams(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    k: int = 20,
) -> DataFrame:
    """Corpus-level n-gram frequency top-k: ``(ngram, freq)``.

    One explode + one map-side-combined count keyed by the n-gram, then
    a distributed top-k (``orderBy(...).limit(k)`` compiles to
    TakeOrderedAndProject: each partition keeps only its local top-k, the
    driver merges k-sized heaps — no global sort, no single-partition
    window). Ties at the boundary break deterministically by the n-gram
    string, so the result set is engine-portable."""
    sh = shingle_table(df, text_col, id_col, n=n, dedupe=False)
    return (
        sh.groupBy(F.col("shingle").alias("ngram"))
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("ngram"))
        .limit(k)
    )


# dual 31-bit polynomial-hash domain: two independent (modulus, base)
# pairs combined into one 62-bit fingerprint — all intermediate products
# stay < 2^52, so the fold never overflows a signed 64-bit integer in
# ANY engine (both Spark ANSI mode and DuckDB raise on long overflow,
# which rules out the usual wrapping Rabin-Karp form).
_SPAN_M1, _SPAN_B1 = 2147483647, 1000003
_SPAN_M2, _SPAN_B2 = 2147483629, 999983


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 15,
    min_docs: int = 2,
) -> DataFrame:
    """Exact duplicate token-window detection across documents — the
    token-window approximation of substring dedup (the suffix-array
    family of "Deduplicating Training Data Makes Language Models Better",
    Lee et al. 2022): any n-token span appearing verbatim in >= min_docs
    distinct documents is a contaminated/duplicated span.

    ``(span_fp, n_docs, representative)`` per offending span. Spans are
    deduped per document inside the projection (``array_distinct`` over
    the fingerprint array — exactly global (id, span) distinct with zero
    extra shuffle), so the single count IS the document frequency.

    The span TEXT is never materialized anywhere: each token hashes once
    (60-bit md5 prefix), and every window fingerprint is a dual 31-bit
    polynomial fold over those token hashes (collision odds ~2^-62 per
    pair). Versus building each n-token span string and hashing it, this
    removes the O(n * span_len) string copying per window that dominated
    the cost (measured 2x end-to-end at n=15), and only 8-byte ints ever
    shuffle. The token-hash array is materialized into its own projection
    first: Catalyst does not CSE outer expressions referenced inside
    higher-order-function lambdas, so an inlined per-token md5 transform
    would re-run per WINDOW (the fingerprint-operator lesson)."""
    toks = F.split(normalize_text(F.col(text_col)), " ")
    th = F.transform(
        toks, lambda x: F.conv(F.substring(F.md5(x), 1, 15), 16, 10).cast("long")
    )
    stage = df.select(F.col(id_col).alias("id"), th.alias("_th"))
    thc = F.col("_th")
    n_sh = F.size(thc) - (n - 1)

    def fold(i, base, mod):
        acc = F.lit(0).cast("long")
        for j in range(n):
            acc = (acc * base + F.element_at(thc, i + F.lit(j)) % mod) % mod
        return acc

    fps = F.transform(
        F.sequence(F.lit(1), F.greatest(n_sh, F.lit(1))),
        lambda i: fold(i, _SPAN_B1, _SPAN_M1) * F.lit(2147483648)
        + fold(i, _SPAN_B2, _SPAN_M2),
    )
    spans = stage.select(
        "id",
        F.explode(
            F.when(n_sh >= 1, F.array_distinct(fps)).otherwise(
                F.array().cast("array<long>")
            )
        ).alias("span_fp"),
    )
    return (
        spans.groupBy("span_fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("id").alias("representative"))
        .filter(F.col("n_docs") >= min_docs)
    )
