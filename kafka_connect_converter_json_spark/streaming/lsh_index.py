"""Incrementally-maintained MinHash-LSH near-duplicate index (N21).

The batch near-dup operators (``operators/textdedup.py``) re-shingle,
re-minhash and re-self-join the WHOLE corpus every run — fine for a
one-shot curation pass, O(corpus) per epoch for a live one. At the
10^10-document regime the north rule describes, the corpus is a CDC
sink that changes by a few million rows per epoch, and the question a
training-data pipeline actually asks is incremental: *which incoming
documents are near-duplicates of anything already admitted?*

``IncrementalLSHIndex`` maintains the banded-signature table as a
derived state of a ``BucketedMergeSink``, fed by the sink's changelog
(N10/N20 machinery, ``read_changes(include_preimages=True)``):

- **adds** (``insert`` / ``update_postimage``): the new text version is
  shingled, minhashed and banded ONCE — cost O(changed docs), never
  O(corpus).
- **retractions** (``delete`` / ``update_preimage``): the OLD text
  version's band rows are recomputed from the pre-image payload and
  written with a −1 count. Banding is a pure md5 function of the text,
  so the retraction reproduces the stored rows exactly; the live view
  is ``sum(count) > 0`` per (id, band) — an update whose text is
  unchanged nets to zero delta.
- **probe**: each refresh joins the epoch's add rows against the
  post-refresh live band table and emits the NEW candidate pairs — the
  admission signal. The band table is laid out in
  ``pmod(xxhash64(band), num_buckets)`` partition dirs (the sink's
  bucketing pattern), so the probe's band-equality join prunes to the
  buckets the delta actually touches; the shuffle carries (band, id)
  only — text and signatures never move.

Lifecycle (exactly-once commit, ``compact()``, ``vacuum()``):
``derived.DeltaIndex``.

Invariant (tested): after any epoch, ``read_bands()`` equals batch
banding of the sink's live docs, and ``candidate_pairs()`` equals
``operators.textdedup.minhash_lsh_candidates`` over the same corpus —
while the union of per-refresh ``read_pairs()`` covers every final
candidate pair (each pair is emitted at the refresh that added its
later endpoint).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.textdedup import band_frequency_cut, minhash_signatures
from .derived import KEY_SEP, DeltaIndex  # noqa: F401 (KEY_SEP re-exported)
from .sink import BucketedMergeSink, unique_rel

IDX_MANIFEST = "_lsh_index_manifest.json"


class IncrementalLSHIndex(DeltaIndex):
    MANIFEST = IDX_MANIFEST
    _PARAMS_OF = "hashing/banding"
    _UNCHANGED = {"new_pairs": 0}

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        sink: BucketedMergeSink,
        text_col: str = "content",
        n: int = 3,
        num_hashes: int = 16,
        bands: int = 4,
        num_buckets: int = 16,
        max_band_freq: int | None = None,
    ) -> None:
        assert num_hashes % bands == 0
        self.text_col = text_col
        self.n = n
        self.num_hashes = num_hashes
        self.bands = bands
        self.num_buckets = num_buckets
        self.max_band_freq = max_band_freq
        super().__init__(spark, root, sink, pairs={})

    def _params(self) -> dict:
        return {
            "text_col": self.text_col,
            "n": self.n,
            "num_hashes": self.num_hashes,
            "bands": self.bands,
            "num_buckets": self.num_buckets,
        }

    # ----- banding (pure function of text; shared by add + retract) -------

    def _band_rows(self, docs: DataFrame) -> DataFrame:
        """(id, band) rows for one text version per key — exactly the
        banding of ``minhash_lsh_candidates`` so the live view is
        interchangeable with the batch operator's."""
        keyed = docs.select(
            self._doc_id().alias("_id"), F.col(self.text_col)
        ).filter(F.col(self.text_col).isNotNull())
        sig = minhash_signatures(
            keyed, self.text_col, "_id", self.n, self.num_hashes
        )
        r = self.num_hashes // self.bands
        band_cols = [
            F.concat_ws(
                "|", F.lit(str(b)), *[F.col(f"h{b * r + j}") for j in range(r)]
            ).alias("band")
            for b in range(self.bands)
        ]
        return sig.select(
            F.col("id"), F.explode(F.array(*band_cols)).alias("band")
        )

    def _bucket(self):
        return F.pmod(F.xxhash64(F.col("band")), F.lit(self.num_buckets))

    # ----- state reads -----------------------------------------------------

    _BAND_SCHEMA = "id string, band string, _n bigint, _bucket bigint"

    def _live(
        self, rels: list[str] | None = None, buckets: list[int] | None = None
    ) -> DataFrame:
        """sum(count) > 0 per (id, band) over ``rels`` (default: the
        committed state). ``buckets`` prunes the scan to the partition
        dirs a probe can possibly match (band equality fixes the bucket)
        — at 10^10 rows this is the difference between reading the
        delta's neighborhood and the whole index."""
        raw = self._read_state(
            self._BAND_SCHEMA, part="_bucket", values=buckets, rels=rels
        )
        return self._live_rows(raw, ["id", "band"]).select("id", "band")

    def read_bands(self) -> DataFrame:
        """Live (id, band) view — ≡ batch banding of the sink's live docs."""
        return self._live()

    def candidate_pairs(self) -> DataFrame:
        """Full candidate set from the index alone — ≡
        ``minhash_lsh_candidates(live_docs, ...)`` without touching any
        text. The band self-join's fan-out bound (``max_band_freq``)
        applies exactly as in the batch operator."""
        live = band_frequency_cut(self.read_bands(), "band", self.max_band_freq)
        a = live.select("band", F.col("id").alias("id_a"))
        b = live.select("band", F.col("id").alias("id_b"))
        return (
            a.join(b, "band")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )

    def read_pairs(self, epoch: int | None = None) -> DataFrame:
        """Per-refresh emitted NEW candidate pairs (``epoch``), or the
        union over all refreshes. A pair involving a since-updated or
        deleted document version stays in its epoch's output — this is
        the admission *log*; filter against current state via
        ``candidate_pairs()`` when only live pairs matter."""
        rels = (
            [self._manifest["pairs"][str(epoch)]]
            if epoch is not None
            else list(self._manifest["pairs"].values())
        )
        if not rels:
            return self.spark.createDataFrame([], "id_a string, id_b string")
        return self.spark.read.schema("id_a string, id_b string").parquet(
            *[os.path.join(self.root, rel) for rel in rels]
        ).select("id_a", "id_b")

    # ----- refresh -----------------------------------------------------------

    def _fold(self, changes: DataFrame, to_epoch: int) -> tuple[dict, dict]:
        """Per-refresh cost O(changed docs + their band neighborhoods),
        never O(corpus)."""
        delta = (
            self._signed(changes, self._band_rows)
            .groupBy("id", "band")
            .agg(F.sum("_n").alias("_n"))
            .filter(F.col("_n") != 0)  # text-unchanged updates net out
            .withColumn("_bucket", self._bucket())
        )
        delta_rel = unique_rel(f"bands_e{to_epoch}")
        delta.write.partitionBy("_bucket").parquet(os.path.join(self.root, delta_rel))

        # probe: this epoch's adds vs the post-refresh live view, pruned
        # to the buckets the adds can match (band equality fixes the
        # bucket). The cap below keeps the collect bounded: past half
        # the buckets, pruning buys nothing — scan them all.
        written = self._read_state(self._BAND_SCHEMA, rels=[delta_rel])
        add_rows = written.filter(F.col("_n") > 0).select("id", "band", "_bucket")
        hot = [
            r._bucket
            for r in add_rows.select("_bucket").distinct().limit(
                self.num_buckets // 2 + 1
            ).collect()
        ]
        buckets = hot if len(hot) <= self.num_buckets // 2 else None
        post_live = self._live(self._state_rels() + [delta_rel], buckets)
        post_live = band_frequency_cut(post_live, "band", self.max_band_freq)
        probe = band_frequency_cut(
            add_rows.select("id", "band"), "band", self.max_band_freq
        )
        pairs = (
            probe.withColumnRenamed("id", "_pid")
            .join(post_live, "band")
            .filter(F.col("id") != F.col("_pid"))
            .select(
                F.least("id", "_pid").alias("id_a"),
                F.greatest("id", "_pid").alias("id_b"),
            )
            .distinct()
        )
        pairs_rel = unique_rel(f"pairs_e{to_epoch}")
        pairs_dir = os.path.join(self.root, pairs_rel)
        pairs.write.parquet(pairs_dir)
        n_pairs = (
            self.spark.read.schema("id_a string, id_b string")
            .parquet(pairs_dir)
            .count()
        )
        return {
            "deltas": [*self._manifest["deltas"], delta_rel],
            "pairs": {**self._manifest["pairs"], str(to_epoch): pairs_rel},
        }, {"new_pairs": n_pairs}

    # ----- maintenance -------------------------------------------------------

    def _write_base(self, path: str) -> None:
        (
            self.read_bands()
            .withColumn("_n", F.lit(1))
            .withColumn("_bucket", self._bucket())
            .write.partitionBy("_bucket")
            .parquet(path)
        )

    def _live_rels(self) -> set[str]:
        # the pair log is referenced state: vacuum keeps it
        return super()._live_rels() | set(self._manifest["pairs"].values())
