"""Incrementally-maintained inverted / BM25 text index (N23).

The batch keyword scorer (``operators/corpus_filters.py::bm25_topk``)
re-tokenizes the WHOLE corpus per query batch — fine one-shot, O(corpus)
per run for a live one. At the 10^10-document regime the north rule
describes, the corpus is a CDC sink changing by a few million rows per
epoch, and keyword search needs a *maintained* inverted index: per-epoch
cost proportional to the changed documents, with queries that read only
the postings of the queried terms.

``IncrementalBM25Index`` is the text-search member of the derived-state
family (N20 aggregate views, N21 LSH near-dup, N22 IVF ANN): all four
hang off the sink's preimage changelog (N10/N20,
``read_changes(include_preimages=True)``) and share one lifecycle
(exactly-once commit, ``compact()``, ``vacuum()``:
``derived.DeltaIndex``). Two state tables:

- **postings** ``(term, id, _tf)`` — signed term frequencies.
  Adds (``insert``/``update_postimage``) tokenize the NEW text version
  once and write ``+tf``; retractions (``delete``/``update_preimage``)
  re-tokenize the OLD version from the pre-image payload and write
  ``-tf``. Tokenization is a pure function of the text, so the
  retraction reproduces the stored rows exactly; the live view is
  ``sum(_tf) > 0`` per (term, id), and an update whose text is
  unchanged nets to a provably EMPTY delta. Laid out in
  ``pmod(xxhash64(term), num_buckets)`` partition dirs, so a query
  prunes the scan, at the PATH level, to the buckets its terms hash
  into — the index-lookup analogue of the sink's bucket pruning.
- **doclens** ``(id, _dl, _n)`` — signed whitespace-token document
  lengths plus a signed row count. Global BM25 corpus stats need NO
  grouping: adds and retractions of the same version cancel, so
  ``n_docs = sum(_n)`` and ``sum_dl = sum(_dl)`` over the raw state are
  exact — one partial-aggregated scan of a 3-column table, no shuffle.

``search(terms, k)`` scores with the same Lucene-BM25 formulation as
the batch operator and is invariant-tested ``==`` against it: for
word-character-only terms (``\\w+`` — the batch operator's ``\\b``
boundary semantics and this index's ``\\W+`` tokenizer agree exactly on
those), ``search(terms, k)`` over the index equals
``bm25_topk(live_docs, terms, k)`` recomputed from scratch.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .derived import KEY_SEP, DeltaIndex  # noqa: F401 (KEY_SEP re-exported)
from .sink import BucketedMergeSink, fold_on_driver, unique_rel

IDX_MANIFEST = "_bm25_index_manifest.json"


class IncrementalBM25Index(DeltaIndex):
    MANIFEST = IDX_MANIFEST
    _PARAMS_OF = "tokenizer/scoring"

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        sink: BucketedMergeSink,
        text_col: str = "content",
        num_buckets: int = 16,
        k1: float = 1.2,
        b: float = 0.75,
    ) -> None:
        self.text_col = text_col
        self.num_buckets = num_buckets
        self.k1 = k1
        self.b = b
        super().__init__(spark, root, sink)

    def _params(self) -> dict:
        return {
            "text_col": self.text_col,
            "num_buckets": self.num_buckets,
            "k1": self.k1,
            "b": self.b,
        }

    # ----- tokenization (pure function of text; shared by add + retract) ---

    def _keyed(self, docs: DataFrame) -> DataFrame:
        return docs.select(
            self._doc_id().alias("_id"), F.col(self.text_col).alias("_text")
        )

    def _posting_rows(self, docs: DataFrame) -> DataFrame:
        """(term, id, tf) for one text version per key. ``\\W+`` token
        split: on word-only terms this agrees exactly with the batch
        operator's ``\\b<term>\\b`` regexp counts."""
        toks = F.filter(
            F.split(F.lower(F.col("_text")), r"\W+"), lambda t: t != F.lit("")
        )
        return (
            self._keyed(docs)
            .filter(F.col("_text").isNotNull())
            .select(F.col("_id").alias("id"), F.explode(toks).alias("term"))
            .groupBy("term", "id")
            .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        )

    def _doclen_rows(self, docs: DataFrame) -> DataFrame:
        """(id, dl) for one text version per key — the batch operator's
        whitespace-field count (null/blank text → 0, and the doc still
        counts toward ``n_docs``, matching its ``count(1)``)."""
        t = F.trim(F.col("_text"))
        dl = (
            F.when(t.isNull() | (t == ""), F.lit(0))
            .otherwise(F.size(F.split(t, r"\s+")))
            .cast("long")
        )
        return self._keyed(docs).select(F.col("_id").alias("id"), dl.alias("dl"))

    def _bucket(self, term: str | Column = "term") -> Column:
        return F.pmod(F.xxhash64(term), F.lit(self.num_buckets))

    # ----- state reads ------------------------------------------------------

    _POST_SCHEMA = "term string, id string, _tf bigint, _bucket bigint"
    _DLEN_SCHEMA = "id string, _dl bigint, _n bigint"

    def _post_raw(self, buckets: list[int] | None = None) -> DataFrame:
        """Raw postings; ``buckets`` prunes the read at the path level to
        the ``_bucket=<b>`` dirs the queried terms can live in (asserted
        via ``inputFiles()`` in the tests)."""
        return self._read_state(self._POST_SCHEMA, "post", "_bucket", buckets)

    def _dlen_raw(self) -> DataFrame:
        return self._read_state(self._DLEN_SCHEMA, "dlen")

    def read_postings(self) -> DataFrame:
        """Live (term, id, tf) view — ≡ tokenizing the sink's live docs."""
        return self._live_postings(self._post_raw())

    def read_doclens(self) -> DataFrame:
        """Live (id, dl) view — one row per live document."""
        return self._live_doclens(self._dlen_raw())

    def _live_postings(self, raw: DataFrame) -> DataFrame:
        return self._live_rows(raw, ["term", "id"], "_tf").withColumnRenamed(
            "_tf", "tf"
        )

    @staticmethod
    def _live_doclens(raw: DataFrame) -> DataFrame:
        return (
            raw.groupBy("id")
            .agg(F.sum("_dl").alias("dl"), F.sum("_n").alias("_n"))
            .filter(F.col("_n") > 0)
            .select("id", "dl")
        )

    def corpus_stats(self) -> tuple[int, int]:
        """(n_docs, sum_dl) — exact from ONE ungrouped scan: a version's
        add and retraction rows cancel, so the signed sums over the raw
        state equal the live totals (no per-id shuffle)."""
        row = self._dlen_raw().agg(
            F.coalesce(F.sum("_n"), F.lit(0)).alias("n"),
            F.coalesce(F.sum("_dl"), F.lit(0)).alias("s"),
        ).collect()[0]
        return int(row.n), int(row.s)

    # ----- query --------------------------------------------------------------

    def search(self, terms: list[str], k: int = 20) -> DataFrame:
        """BM25 top-``k`` docs per term — ≡ ``bm25_topk(live_docs, terms,
        k)`` for word-only terms, but reading ONLY the queried terms'
        postings buckets (path-pruned) instead of the corpus."""
        if not terms:
            raise ValueError("terms must be non-empty")
        empty = self.spark.createDataFrame(
            [], "term string, id string, score double, rnk int"
        )
        # partition ids of the queried terms, folded on the driver
        buckets = sorted(
            set(fold_on_driver(self.spark, *[self._bucket(F.lit(t)) for t in terms]))
        )
        raw = self._post_raw(buckets)
        n_docs, sum_dl = self.corpus_stats()
        if n_docs == 0 or sum_dl == 0:
            return empty
        live = self._live_postings(raw.filter(F.col("term").isin(terms)))
        dfreq = live.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df_t"))
        # candidate docs only: semi-join the RAW doclen state before its
        # groupBy, so the per-id shuffle is bounded by the queried terms'
        # postings, never the corpus
        dlen = self._live_doclens(
            self._dlen_raw().join(live.select("id").distinct(), "id", "left_semi")
        )
        scored = (
            live.join(dlen, "id")
            .join(F.broadcast(dfreq), "term")
            .withColumn(
                "idf",
                F.log(
                    (F.lit(n_docs) - F.col("df_t") + F.lit(0.5))
                    / (F.col("df_t") + F.lit(0.5))
                    + F.lit(1.0)
                ),
            )
            .withColumn(
                "score",
                F.round(
                    F.col("idf")
                    * (F.col("tf") * F.lit(self.k1 + 1.0))
                    / (
                        F.col("tf")
                        + F.lit(self.k1)
                        * (
                            F.lit(1.0 - self.b)
                            + F.lit(self.b)
                            * F.col("dl")
                            * F.lit(float(n_docs))
                            / F.lit(float(sum_dl))
                        )
                    ),
                    6,
                ),
            )
        )
        w = Window.partitionBy("term").orderBy(
            F.col("score").desc(), F.col("id").asc()
        )
        return (
            scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select("term", "id", "score", "rnk")
        )

    # ----- refresh --------------------------------------------------------------

    def _fold(self, changes: DataFrame, to_epoch: int) -> tuple[dict, dict]:
        """Per-refresh cost O(changed docs · their tokens), never
        O(corpus)."""
        post_delta = (
            self._signed(changes, self._posting_rows)
            .groupBy("term", "id")
            .agg(F.sum(F.col("tf") * F.col("_n")).alias("_tf"))
            .filter(F.col("_tf") != 0)  # text-unchanged updates net out
            .withColumn("_bucket", self._bucket())
        )
        dlen_delta = (
            self._signed(changes, self._doclen_rows)
            .groupBy("id")
            .agg(F.sum(F.col("dl") * F.col("_n")).alias("_dl"), F.sum("_n").alias("_n"))
            .filter((F.col("_dl") != 0) | (F.col("_n") != 0))
        )
        rel = unique_rel(f"e{to_epoch}")
        out = os.path.join(self.root, rel)
        post_delta.write.partitionBy("_bucket").parquet(os.path.join(out, "post"))
        dlen_delta.write.parquet(os.path.join(out, "dlen"))
        return {"deltas": [*self._manifest["deltas"], rel]}, {}

    # ----- maintenance ------------------------------------------------------------

    def _write_base(self, path: str) -> None:
        (
            self.read_postings()
            .select("term", "id", F.col("tf").alias("_tf"))
            .withColumn("_bucket", self._bucket())
            .write.partitionBy("_bucket")
            .parquet(os.path.join(path, "post"))
        )
        (
            self.read_doclens()
            .select("id", F.col("dl").alias("_dl"), F.lit(1).cast("long").alias("_n"))
            .write.parquet(os.path.join(path, "dlen"))
        )
