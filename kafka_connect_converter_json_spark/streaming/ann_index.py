"""Incrementally-maintained IVF embedding (ANN) index (N22).

The batch ANN operators (``operators/similarity.py``) re-assign and
re-rank the WHOLE corpus per run — fine for a one-shot curation pass,
O(corpus) per epoch for a live one. At the 10^10-document regime the
corpus is a CDC sink changing by a few million rows per epoch, and the
question a retrieval/dedup pipeline actually asks is incremental:
*maintain a searchable vector index as the corpus changes*.

``IncrementalANNIndex`` maintains an IVF-flat cell-assignment table as
derived state of a ``BucketedMergeSink``, fed by the sink's changelog
(N10/N20 machinery, ``read_changes(include_preimages=True)``) — the
embedding-side twin of the N21 LSH index:

- **codebook**: trained ONCE at the bootstrap refresh (the md5-sampled
  + optionally Lloyd-refined rule of ``ivf_centroids``) and frozen in
  the manifest — the standard IVF discipline (FAISS freezes the coarse
  quantizer; retraining invalidates every stored assignment, so corpus
  drift warrants a new index, not a mutated one).
- **adds** (``insert`` / ``update_postimage``): the new vector is
  assigned to its nearest centroid ONCE — cost O(changed docs · K),
  never O(corpus).
- **retractions** (``delete`` / ``update_preimage``): the OLD version's
  (cell, vector) row is recomputed from the pre-image payload and
  written with a −1 count. The embedding is a pure function of the
  payload (``vec_expr``), so the retraction reproduces the stored row
  exactly; the live view is ``sum(count) > 0`` per (id, cell, vec) —
  an update whose vector is unchanged nets to zero delta.
- **search**: queries probe their ``nprobe`` nearest cells and exact
  cosine re-rank only those cells' live vectors. The state is laid out
  in ``_cell=`` partition dirs, so the scan prunes to the probed cells
  — at 10^10 rows this is the difference between reading
  nprobe/n_centroids of the index and all of it.

Lifecycle (exactly-once commit, ``compact()``, ``vacuum()``):
``derived.DeltaIndex``.

Invariant (tested): after any epoch, ``read_assignments()`` equals the
batch nearest-centroid assignment of the sink's live docs under the
frozen codebook, and ``search()`` equals an independent numpy IVF
oracle over the same live corpus (and, at nprobe = n_centroids, the
brute-force cosine top-k).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.similarity import _sq_dist, cosine
from .derived import KEY_SEP, DeltaIndex  # noqa: F401 (KEY_SEP re-exported)
from .sink import BucketedMergeSink, unique_rel

IDX_MANIFEST = "_ann_index_manifest.json"


class IncrementalANNIndex(DeltaIndex):
    MANIFEST = IDX_MANIFEST
    _PARAMS_OF = "embedding/codebook"
    _UNCHANGED = {"rows": 0}

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        sink: BucketedMergeSink,
        vec_expr: Column | None = None,
        vec_col: str = "embedding",
        vec_tag: str = "default",
        n_centroids: int = 16,
        lloyd_rounds: int = 0,
    ) -> None:
        """``vec_expr`` maps a changelog row's payload columns to the
        ``array<float/double>`` embedding (default: ``F.col(vec_col)``
        — precomputed embeddings travelling as a payload column, the
        production shape). It MUST be a pure function of the payload:
        retraction recomputes the OLD version's row from the pre-image
        and must reproduce the stored bytes. ``vec_tag`` names the
        expression in the manifest so a reopen with a different
        embedding rule is refused (expressions aren't serializable —
        the tag is the caller's contract)."""
        self.vec_expr = vec_expr if vec_expr is not None else F.col(vec_col)
        self.vec_tag = vec_tag
        self.n_centroids = n_centroids
        self.lloyd_rounds = lloyd_rounds
        # the codebook is trained at the bootstrap refresh
        super().__init__(spark, root, sink, centroids=None)

    def _params(self) -> dict:
        return {
            "vec_tag": self.vec_tag,
            "n_centroids": self.n_centroids,
            "lloyd_rounds": self.lloyd_rounds,
        }

    @property
    def centroids(self) -> list[list[float]] | None:
        return self._manifest["centroids"]

    # ----- assignment (pure function of payload; shared by add + retract) ---

    def _vec_rows(self, docs: DataFrame) -> DataFrame:
        """(id, vec) rows for one payload version per key."""
        return docs.select(
            self._doc_id().alias("_id"),
            self.vec_expr.cast("array<double>").alias("_v"),
        ).filter(F.col("_v").isNotNull())

    def _assign(self, vecs: DataFrame, cents: list[list[float]]) -> DataFrame:
        """Nearest-centroid cell per row — the exact argmin +
        first-min-tiebreak rule of ``ivf_topk``'s corpus side."""
        darr = F.array(*[_sq_dist(F.col("_v"), c) for c in cents])
        return vecs.select(
            "_id",
            F.col("_v"),
            darr.alias("_d"),
        ).select(
            F.col("_id").alias("id"),
            (F.array_position(F.col("_d"), F.array_min("_d")) - 1)
            .cast("int").alias("cell"),
            F.col("_v").alias("vec"),
        )

    # ----- state reads -------------------------------------------------------

    _VEC_SCHEMA = "id string, vec array<double>, _n bigint, _cell int"

    def _live(self, cells: list[int] | None = None) -> DataFrame:
        """sum(count) > 0 per (id, cell, vec). ``cells`` prunes the scan
        at the path level to the probed cells' partition dirs, so a
        search never touches the unprobed (n_centroids - nprobe)/
        n_centroids of the index."""
        raw = self._read_state(self._VEC_SCHEMA, part="_cell", values=cells)
        return self._live_rows(raw, ["id", "_cell", "vec"]).select(
            "id", F.col("_cell").alias("cell"), "vec"
        )

    def read_assignments(self) -> DataFrame:
        """Live (id, cell, vec) view — ≡ batch nearest-centroid
        assignment of the sink's live docs under the frozen codebook."""
        return self._live()

    # ----- search ------------------------------------------------------------

    def search(
        self,
        queries: DataFrame,
        k: int = 10,
        nprobe: int = 4,
        id_col: str = "query_id",
        vec_col: str = "vec",
        round_digits: int = 4,
    ) -> DataFrame:
        """IVF-flat top-k over the LIVE index: each query probes its
        ``nprobe`` nearest cells (codebook is a driver-side literal —
        the probe pick never touches the cluster), the state scan
        prunes to those cells' partition dirs, and exact cosine
        re-ranks only their vectors. Output: (query_id, neighbor_id,
        cos, rank). Self-matches (query_id == neighbor_id) are kept —
        the index doesn't know whether the query is a corpus member;
        filter downstream if needed."""
        cents = self._manifest["centroids"]
        if not cents:
            raise ValueError("index has no codebook yet — run refresh() first")
        nprobe = min(nprobe, len(cents))
        qv = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("_qv"),
        )
        # materialize the K-distance array once per row (element_at
        # inside the transform lambda would rebuild the whole K x dim
        # expression per centroid index — same discipline as ivf_topk)
        darr = F.array(*[_sq_dist(F.col("_qv"), c) for c in cents])
        probes = qv.select("query_id", darr.alias("_qd")).select(
            "query_id",
            F.explode(
                F.transform(
                    F.slice(
                        F.array_sort(
                            F.transform(
                                F.sequence(F.lit(0), F.lit(len(cents) - 1)),
                                lambda i: F.struct(
                                    F.element_at(F.col("_qd"), i + 1).alias("d"),
                                    i.alias("i"),
                                ),
                            )
                        ),
                        1,
                        nprobe,
                    ),
                    lambda s: s["i"].cast("int"),
                )
            ).alias("cell"),
        )
        # bounded collect: ≤ |queries| · nprobe cell ids — the probe set
        # is what makes the state scan prunable
        cells = sorted(
            {r.cell for r in probes.select("cell").distinct().collect()}
        )
        if not cells:  # no queries: empty result with the output schema
            return self.spark.createDataFrame(
                [], "query_id string, neighbor_id string, cos double, rank int"
            )
        live = self._live(cells)
        scored = (
            live.join(F.broadcast(probes), "cell")
            .join(F.broadcast(qv), "query_id")
            .select(
                "query_id",
                F.col("id").alias("neighbor_id"),
                F.round(cosine(F.col("_qv"), F.col("vec")), round_digits)
                .alias("cos"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cos").desc(), F.col("neighbor_id")
        )
        return scored.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= k
        )

    # ----- refresh -----------------------------------------------------------

    def _fold(self, changes: DataFrame, to_epoch: int) -> tuple[dict, dict]:
        """Per-refresh cost O(changed docs · K), never O(corpus). The
        first refresh trains the codebook on the bootstrap adds and
        freezes it in the manifest."""
        cents = self._manifest["centroids"]
        if cents is None:
            # bootstrap: train on this refresh's adds (the live corpus
            # as-of the first refresh), then freeze. ivf_centroids'
            # md5-sample rule, optionally Lloyd-refined; driver-side
            # K x dim floats.
            from ..operators.similarity import ivf_centroids

            adds = changes.filter(
                F.col("_change_type").isin("insert", "update_postimage")
            )
            cents = ivf_centroids(
                self._vec_rows(adds), self.n_centroids, id_col="_id", vec_col="_v",
                lloyd_rounds=self.lloyd_rounds,
            )
            if not cents:
                raise ValueError("bootstrap refresh saw no vectors to train on")
        delta = (
            self._signed(changes, lambda d: self._assign(self._vec_rows(d), cents))
            .groupBy("id", "cell", "vec")
            .agg(F.sum("_n").alias("_n"))
            .filter(F.col("_n") != 0)  # vector-unchanged updates net out
            .withColumn("_cell", F.col("cell"))
            .drop("cell")
        )
        delta_rel = unique_rel(f"vecs_e{to_epoch}")
        delta.write.partitionBy("_cell").parquet(os.path.join(self.root, delta_rel))
        n_rows = self._read_state(self._VEC_SCHEMA, rels=[delta_rel]).count()
        return {
            "deltas": [*self._manifest["deltas"], delta_rel],
            "centroids": cents,
        }, {"rows": n_rows}

    # ----- maintenance -------------------------------------------------------

    def _write_base(self, path: str) -> None:
        (
            self.read_assignments()
            .withColumn("_n", F.lit(1))
            .withColumn("_cell", F.col("cell"))
            .drop("cell")
            .write.partitionBy("_cell")
            .parquet(path)
        )
