"""SparkSearchEngine — the reference's SearchEngine re-expressed as
DataFrame plans (reference behavior map in SURVEY.md §2.9/§3.1).

Query evaluation mirrors src/SearchEngine.php's posting-set algebra:
leaves produce match rows, AND/OR fold them with accumulation, NOT
anti-joins, the AND count-filter keeps docs matching every direct text
subquery, the fulltext flag is a case-sensitive substring test on stored
fulltext fields, and the weight is the doubling fold (scoring.py).

Known deliberate divergences (documented in SURVEY.md §2.9):
- results stay keyed by doc_id; the reference's positional re-keying bug
  after usort is not replicated (observable counts/weights are identical);
- a fielded fulltext query labels matches with the field name, not the
  phrase (reference AbstractStorage::findDocIdsByFulltext keys the map by
  the raw text — an untested quirk).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field as dc_field
from typing import Any

from pyspark.sql import DataFrame, Row, SparkSession, functions as F, types as T

from phphinder_spark.functions.typo import levenshtein_distance_for_term
from phphinder_spark.index import segments
from phphinder_spark.index.builder import InvertedIndex, build_index, build_postings
from phphinder_spark.index.segments import SegmentStore, decode_segments
from phphinder_spark.query import (
    AndQuery,
    FullTextQuery,
    GroupQuery,
    NotQuery,
    NullQuery,
    OrQuery,
    PrefixQuery,
    QueryParser,
    TermQuery,
    TextQuery,
)
from phphinder_spark.query.parser import ANY_FIELD
from phphinder_spark.schema import SearchSchema
from phphinder_spark.scoring import (
    PostingsSource,
    bm25_topk,
    bm25_topk_batch,
    reference_score,
)

_MATCH_SCHEMA = "doc_id long, qvalue string, field string, seq long"

# typo_strategy='auto' crossover: below this many dictionary terms the
# length-banded full-dictionary Levenshtein scan beats the bigram probe
# (measured: 30k terms -> scan 2.1 s vs ngram 3.0 s at sf0.1; the probe's
# extra join job dominates until the linear scan term catches up)
_TYPO_AUTO_DICT_THRESHOLD = 150_000

# Driver-side term->fields dictionary cache cap: under this many (field,
# term) dictionary rows the existence prefetch is answered from a local
# dict (ZERO Spark jobs per query — the batched prefetch collect was the
# last structural per-query driver round-trip in memory-mode serving);
# above it, fall back to the batched probe job. ~30k rows at sf0.1;
# 2M rows is ~a few hundred MB of driver strings — dictionary-sized,
# the same artifact segment-serving persists to parquet.
_DICT_DRIVER_CACHE_MAX = 2_000_000

# Recommended session conf for INTERACTIVE point-query serving (sub-second
# single searches over a built index), measured on the Alice corpus
# (scripts/alice_bench.py, local[8]): AQE surfaces every shuffle stage of a
# single action as its own scheduled job — right for multi-GB analytics
# stages, pure scheduling overhead for point queries over cached frames
# (p95 0.70 -> 0.64 s, median 0.46 -> 0.42 s with it off; totals -12%).
# Analytics/batch pipelines (bench.py, dedup, builds) should keep AQE ON.
INTERACTIVE_SESSION_CONF = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.shuffle.partitions": "4",
}


def apply_interactive_conf(spark: SparkSession) -> dict[str, str]:
    """Apply INTERACTIVE_SESSION_CONF; returns the previous values so a
    caller can restore them around an interactive serving phase."""
    prev = {}
    for k, v in INTERACTIVE_SESSION_CONF.items():
        prev[k] = spark.conf.get(k)
        spark.conf.set(k, v)
    return prev


# phrase_strategy='auto' rule (measured, scripts/phrase_crossover.py): when
# the stored corpus is a CACHED in-memory column, one contains scan beats
# the positional candidate+verify plan at EVERY size that fits in memory
# (20k: 2.2 vs 4.0 s; 200k: 3.1 vs 5.6 s; 1M: 3.3 vs 8.5 s for a 3-query
# set on local[32]) — the index path's joins can't beat scanning cached
# bytes. The positional/shadow prefilter is the COLD-STORAGE plan: serving
# from the segment store (or uncached parquet), where substring-scanning
# the stored corpus means re-reading the whole text column per query — a
# 100-TB non-starter. So 'auto' keys on the corpus's physical residence,
# not a size threshold.


@dataclass
class Result:
    doc_id: int
    terms: list[str]
    indices: list[str]
    fulltext: bool
    weight: float
    document: dict = dc_field(default_factory=dict)


class _Ctx:
    def __init__(self) -> None:
        self._seq = 0
        self.events: list[tuple[int, str]] = []
        # (transformed_term, field) -> hit?  Prefetched in one batch job by
        # search_df so term leaves don't each run an existence-check job.
        self.term_hits: dict[tuple[str, str], bool] | None = None
        # top-level AND count filter, applied inside the finalize aggregate
        # instead of an extra groupBy + semi-join (one less shuffle).
        self.pending_and_count: int | None = None

    def next(self) -> int:
        self._seq += 1
        return self._seq


class RequiredFieldError(ValueError):
    pass


def _lev_within(a: str, b: str, d: int) -> bool:
    """Exact ``levenshtein(a, b) <= d`` via the banded DP (band width
    2d+1): cells farther than ``d`` off-diagonal can never contribute to
    a distance <= d, so the band decides the threshold exactly like the
    full matrix (same metric as Spark's ``F.levenshtein``)."""
    la, lb = len(a), len(b)
    if abs(la - lb) > d:
        return False
    prev = {j: j for j in range(min(lb, d) + 1)}
    for i in range(1, la + 1):
        cur: dict[int, int] = {}
        lo = max(0, i - d)
        hi = min(lb, i + d)
        if lo == 0:
            cur[0] = i
            lo = 1
        for j in range(lo, hi + 1):
            best = prev.get(j - 1, d + 1) + (0 if a[i - 1] == b[j - 1] else 1)
            up = prev.get(j, d + 1) + 1
            left = cur.get(j - 1, d + 1) + 1
            if up < best:
                best = up
            if left < best:
                best = left
            cur[j] = best
        if not cur or min(cur.values()) > d:
            return False
        prev = cur
    return prev.get(lb, d + 1) <= d


class SparkSearchEngine:
    def __init__(
        self,
        spark: SparkSession,
        schema: SearchSchema,
        typo_strategy: str = "auto",
        storage=None,
        phrase_strategy: str = "auto",
    ):
        from phphinder_spark.index.storage import MemoryStorage

        self.spark = spark
        self.schema = schema
        if typo_strategy not in ("auto", "ngram", "scan"):
            raise ValueError(
                "typo_strategy must be 'auto', 'ngram' or 'scan', "
                f"got {typo_strategy!r}"
            )
        self.typo_strategy = typo_strategy
        if phrase_strategy not in ("auto", "index", "scan"):
            raise ValueError(
                "phrase_strategy must be 'auto', 'index' or 'scan', "
                f"got {phrase_strategy!r}"
            )
        self.phrase_strategy = phrase_strategy
        # transactional owner of (docs, postings) — MERGE-commit seam
        # (index/storage.py: MemoryStorage | ParquetSnapshotStorage |
        # IcebergStorage), mirroring the reference Storage SPI
        # (src/Index/Storage.php:14-164)
        self.storage = storage or MemoryStorage(spark)
        self.index: InvertedIndex | None = None
        self._buffer: list[dict] = []
        self._source_df: DataFrame | None = None
        self._max_id = 0
        self._drop_index_state()
        if not self.storage.is_empty:
            self.index = InvertedIndex(
                self.schema, self.storage.docs(), self.storage.postings()
            ).cache()
            self._max_id = -1

    # ------------------------------------------------------------------ write

    def add_document(self, doc: dict) -> "SparkSearchEngine":
        self._buffer.append(doc)
        return self

    def add_documents(self, docs: list[dict]) -> "SparkSearchEngine":
        self._buffer.extend(docs)
        return self

    def flush(self) -> None:
        """Assign ids, upsert docs + postings (reference flush,
        src/SearchEngine.php:53-63; unique-field replacement semantics of
        :69-82 — old doc's id is reused, its postings removed)."""
        if not self._buffer:
            return
        self._ensure_max_id()
        rows, self._buffer = self._buffer, []
        for doc in rows:
            for req in self.schema.required_fields:
                if req not in doc:
                    payload = json.dumps(doc, separators=(",", ":"), ensure_ascii=False)
                    raise RequiredFieldError(
                        f"No `{req}` key provided for doc {payload}"
                    )

        uniq = self.schema.unique_field
        assigned: list[tuple[int, dict]] = []
        replaced_ids: list[int] = []
        existing_by_uniq: dict[Any, int] = {}
        if uniq and self.index is not None:
            # probe by broadcast-joining the batch's keys against the index —
            # the collected result is bounded by the BATCH size, never the
            # index size (reference getUniqueDocument probe, scale-correct)
            # coerce to the declared key type: the collected index values are
            # post-ingest-coercion, so an int passed for a string-typed key
            # must probe as its string form (verified end-to-end: without
            # this, replacement silently no-ops and the old doc survives)
            keys = sorted(
                {
                    self.schema.coerce_value(uniq, doc[uniq])
                    for doc in rows
                    if doc.get(uniq) is not None
                }
            )
            if keys:
                kdf = self.spark.createDataFrame(
                    [(k,) for k in keys],
                    T.StructType([T.StructField(uniq, self.schema.spark_type(uniq))]),
                )
                existing_by_uniq = {
                    r[uniq]: r["doc_id"]
                    for r in self.index.docs.join(F.broadcast(kdf), uniq, "left_semi")
                    .select(uniq, "doc_id")
                    .collect()
                }
        batch_by_uniq: dict[Any, int] = {}
        for doc in rows:
            key = self.schema.coerce_value(uniq, doc.get(uniq)) if uniq else None
            if uniq and key is not None and key in existing_by_uniq:
                doc_id = existing_by_uniq[key]
                replaced_ids.append(doc_id)
                # same key may appear twice in one batch: last write wins
                # (reference updates in place per row), so drop any earlier
                # assignment of this reused id
                assigned = [(i, d) for i, d in assigned if i != doc_id]
            elif uniq and key is not None and key in batch_by_uniq:
                doc_id = batch_by_uniq[key]
                assigned = [(i, d) for i, d in assigned if i != doc_id]
            else:
                self._max_id += 1
                doc_id = self._max_id
                if uniq and key is not None:
                    batch_by_uniq[key] = doc_id
            assigned.append((doc_id, doc))

        struct = self.schema.to_struct_type()
        data = [
            tuple([doc_id] + [doc.get(f) for f in self.schema.fields])
            for doc_id, doc in assigned
        ]
        new_df = self.spark.createDataFrame(data, struct)
        new_index = build_index(new_df.withColumn("doc_id", F.col("doc_id")), self.schema)

        if self.storage.is_empty and self.index is not None:
            # index came from a bulk load (index_dataframe/from_index_dir):
            # seed the storage with it so the MERGE commit has a base
            self.storage.commit(self.index.docs, self.index.postings, [])
        self.storage.commit(new_index.docs, new_index.postings, sorted(set(replaced_ids)))
        self._refresh_index()

    def _refresh_index(self) -> None:
        """Re-open the index over the storage's current snapshot. The plan
        depth is bounded by the STORAGE (lineage-cut checkpoint or snapshot
        files), not by the number of flushes since startup."""
        if self.index is not None:
            self.index.unpersist()
        self.index = InvertedIndex(
            self.schema, self.storage.docs(), self.storage.postings()
        ).cache()
        self._drop_index_state()

    def _drop_index_state(self) -> None:
        """Forget everything derived from the previous index: the lazy
        |dictionary| (typo_strategy='auto'), the driver-side term ->
        {field: df} dictionary (built on the first search under
        _DICT_DRIVER_CACHE_MAX; None = too big or not yet attempted —
        _tf_cache_tried disambiguates; carrying df lets BM25 skip its
        per-query document-frequency shuffle), the <field>#raw presence
        probes, and the segment store. A flush or rebuild hands the index
        to the storage, so postings access must stop routing through the
        (now stale) store."""
        self._dict_size = -1
        self._tf_cache: dict[str, dict[str, int]] | None = None
        self._tf_cache_tried = False
        self._shadow_ok: dict[str, bool] = {}
        # cold-serving mode (from_index_dir(serve="segments")): postings
        # access goes through the compressed segment store with (field,
        # term) predicates applied to SEGMENT rows before any posting decode
        self._store: SegmentStore | None = None

    @property
    def _serve(self) -> str:
        """Serve mode label: 'segments' while a segment store is open."""
        return "segments" if self._store is not None else "postings"

    def truncate(self) -> None:
        """Drop the index (reference Storage::truncate,
        src/Index/AbstractStorage.php:47-64)."""
        if self.index is not None:
            self.index.unpersist()
        if self._source_df is not None:
            self._source_df.unpersist()
            self._source_df = None
        self.storage.truncate()
        self.index = None
        self._buffer = []
        self._max_id = 0
        self._drop_index_state()

    def index_dataframe(self, df: DataFrame) -> None:
        """Bulk build (the scale path). ``df`` must carry ``doc_id``.

        The input is cached first: ``build_index`` branches once per
        indexed field, so an uncached id-assigned corpus would re-run its
        shuffle+window subtree N_fields times (measured 2-3x build
        slowdown and flat 8->32 core scaling at 200k docs). At real scale
        the same materialization point is the persisted docs table the
        storage seam writes — cache is its local-mode stand-in.

        Lazy apart from that: nothing materializes until the first
        query/count; ``_max_id`` (needed only by the interactive flush
        path) is fetched on demand.

        The source is widened to the session parallelism first when the
        input plan yields fewer partitions (a small corpus in one parquet
        file scans as ONE split, serializing the analyzer UDF stage on a
        single core — guide §2.5); at scale the guard is a no-op."""
        from phphinder_spark.functions.parallel import ensure_min_partitions

        if self._source_df is not None:
            self._source_df.unpersist()
        self._source_df = ensure_min_partitions(df).cache()
        self.index = build_index(self._source_df, self.schema).cache()
        self._max_id = -1
        self._drop_index_state()

    def _ensure_max_id(self) -> None:
        if self._max_id < 0 and self.index is not None:
            row = self.index.docs.agg(F.max("doc_id").alias("m")).collect()[0]
            self._max_id = row["m"] or 0

    def search_topk_bm25_many(
        self, phrases: list[str], k: int = 10, field: str | None = None,
        k1: float = 1.2, b: float = 0.75,
    ) -> DataFrame:
        """Batched BM25 top-k: all queries share one plan/job — the
        throughput path (per-query jobs pay fixed scheduler latency).
        Returns (query_id = the phrase, doc_id, score, rank)."""
        field = self._bm25_field(field)
        if self.index is None:
            # reference searches over empty storage return no results
            # (src/SearchEngine.php:100-105 over a truncated index)
            return self.spark.createDataFrame(
                [], "query_id string, doc_id long, score double, rank int"
            )
        qmap = {phrase: self._bm25_terms(phrase) for phrase in phrases}
        source, df_by_term = self._bm25_source(field, {t for ts in qmap.values() for t in ts})
        return bm25_topk_batch(source, qmap, field, k, k1, b, df_by_term=df_by_term)

    def _bm25_source(self, field: str, terms: set[str]):
        """(posting source, df_by_term) BM25 scores from: the open segment
        store, whose df comes from its chunk metadata, else the index's
        postings with df from the driver dictionary cache (None over its
        cap: the kernel then counts df in its plan — the same values, so
        scores are bit-identical)."""
        if self._store is not None:
            return self._store, None
        idx = self.index
        cache = self._term_field_cache()
        df_by_term = None if cache is None else {
            t: cache[t][field] for t in terms if field in cache.get(t, {})
        }
        return PostingsSource(idx.postings, idx.doclens, idx.stats()), df_by_term

    def _bm25_field(self, field: str | None) -> str:
        """The field BM25 scores: the first non-unique indexed field by
        default; an explicit one must be indexed — a stored-only or
        unknown name raises here in every serve mode instead of scoring
        nothing."""
        indexed = self.schema.indexed_fields
        if field is None:
            return [f for f in indexed if not self.schema.is_unique(f)][0]
        if field not in indexed:
            raise ValueError(
                f"BM25 field {field!r} is not an indexed field "
                f"(indexed fields: {', '.join(indexed)})"
            )
        return field

    def _bm25_terms(self, phrase: str) -> list[str]:
        analyzer = self.schema.analyzer
        terms = []
        for tok in analyzer.tokenizer.apply(phrase):
            t = analyzer.transform(tok)
            if t is not None and t != "":
                terms.append(str(t))
        return terms

    @classmethod
    def from_index_dir(
        cls,
        spark: SparkSession,
        out_dir: str,
        schema: SearchSchema,
        serve: str = "postings",
    ) -> "SparkSearchEngine":
        """Serve from a persisted index built by
        ``index.manifest.build_resumable_index``.

        Both modes read ``doclens/`` and ``stats.json`` (n_docs, avgdl)
        once, here: BM25 never re-aggregates document lengths or re-counts
        the corpus per query.

        ``serve='postings'``: reads the uncompressed postings parquet
        (term/field predicates push into the scans) — the warm path when
        the chunked postings are still around.

        ``serve='segments'``: the cold 100-TB path — ONLY the compressed
        segment store + persisted doclens/dictionary/stats/ngram artifacts
        are read; the uncompressed ``postings/`` directory may be deleted.
        Opened once: an ``index.segments.SegmentStore`` (segments and
        doclens tables, stats.json), the cached dictionary and the n-gram
        typo index (loaded from the manifest's ``ngram/`` instead of
        rebuilt per session). Every postings access routes through
        ``_postings_where`` / ``_postings_for_terms``, which filter SEGMENT
        rows (field/term columns, parquet-pushdown on the sorted store)
        before decoding any posting array. BM25 top-k runs the scoring
        kernel on the open store; per query it reads only the query terms'
        chunk metadata — from the store's driver map when
        ``n_segment_rows`` is within ``_DICT_DRIVER_CACHE_MAX`` (built on
        the first BM25 query), else one metadata-only collect — and decode
        only the chunks they score."""
        import os

        if serve not in ("postings", "segments"):
            raise ValueError(f"serve must be 'postings' or 'segments', got {serve!r}")
        eng = cls(spark, schema)
        docs = spark.read.parquet(f"{out_dir}/docs")
        # persisted docs carry layout artifacts (content_sha256 audit
        # column, corpus columns outside the schema, batch_id) — the
        # engine's contract is doc_id + declared fields, same projection
        # as build_index; keeping extras breaks the flush MERGE union
        keep = ["doc_id"] + [f for f in schema.fields if f in docs.columns]
        docs = docs.select(*keep)
        if serve == "segments":
            store = SegmentStore(spark, out_dir)
            # full-decode view: ONLY the correctness fallback for access
            # paths not routed through the segment helpers (none in the
            # query engine; kept so index.postings stays a valid DataFrame)
            idx = InvertedIndex(schema, docs, decode_segments(store.segments))
            idx.doclens, st = store.doclens, store.stats
        else:
            store = None
            idx = InvertedIndex(schema, docs, spark.read.parquet(f"{out_dir}/postings"))
            idx.doclens = spark.read.parquet(f"{out_dir}/doclens")
            with open(f"{out_dir}/stats.json") as fh:
                st = json.load(fh)
        idx._stats = {"n_docs": st["n_docs"], "avgdl": st["avgdl"]}
        eng.index = idx
        eng._store = store
        eng._max_id = -1
        if store is None:
            return eng

        from phphinder_spark.index.builder import SHADOW_SUFFIX

        # the guard makes the no-full-decode invariant structural: any
        # future code touching index.postings while segment-serving warns
        # loudly instead of silently decoding the whole store
        idx._postings_guard = (
            "index.postings accessed while serving from the compressed "
            "segment store: this DataFrame explodes the posting arrays of "
            "EVERY segment row. "
            "Query paths must route through SparkSearchEngine._postings_where"
            " / _postings_for_terms (term/field pushdown before decode)."
        )
        idx._dict = (
            spark.read.parquet(f"{out_dir}/dictionary")
            .where(~F.col("field").endswith(SHADOW_SUFFIX))
            .select("field", "term", "df")
            .cache()
        )
        ngram_path = f"{out_dir}/ngram"
        if os.path.exists(ngram_path):
            idx._ngram = spark.read.parquet(ngram_path).cache()
        return eng

    # ----------------------------------------------------- postings access

    def _postings_where(
        self, cond: F.Column, with_positions: bool = False
    ) -> DataFrame:
        """Postings rows matching ``cond``. ``cond`` must reference only
        the (field, term) columns so that in segment-serving mode it can
        be evaluated on SEGMENT rows — pushed into the sorted parquet scan
        — before any posting array is decoded. Only the PHRASE prefilter
        needs ``with_positions``; term/prefix/typo/BM25 leaves decode
        doc+tf only, so their scans never read the ``positions`` column
        (the bulk of the store)."""
        if self._store is not None:
            return decode_segments(
                self._store.segments.where(cond), with_positions=with_positions
            )
        return self.index.postings.where(cond)

    def _postings_for_terms(self, cand: DataFrame) -> DataFrame:
        """Postings for a bounded (field, term) candidate frame — the
        candidates broadcast-join against segment rows (decode only
        matching rows, doc+tf only) or against the in-memory
        postings."""
        if self._store is not None:
            return decode_segments(
                self._store.segments.join(F.broadcast(cand), ["field", "term"]),
                with_positions=False,
            )
        return self.index.postings.join(F.broadcast(cand), ["field", "term"])

    # ------------------------------------------------------------------ read

    def _empty_matches(self) -> DataFrame:
        return self.spark.createDataFrame([], _MATCH_SCHEMA)

    def _field_pos_col(self) -> F.Column:
        labels = self._all_field_labels()
        expr = F.lit(0)
        for i, f in enumerate(labels):
            expr = F.when(F.col("field") == f, F.lit(i)).otherwise(expr)
        return expr

    def _all_field_labels(self) -> list[str]:
        seen = list(self.schema.indexed_fields)
        for f in self.schema.fulltext_fields:
            if f not in seen:
                seen.append(f)
        return seen

    def _attach(
        self, matches: DataFrame | None, rows: DataFrame, qvalue: str, base_seq: int
    ) -> DataFrame:
        rows = rows.select(
            "doc_id",
            F.lit(qvalue).alias("qvalue"),
            "field",
            (F.lit(base_seq * 1000) + self._field_pos_col()).alias("seq"),
        )
        # matches is None until the first leaf emits rows — starting from
        # a real empty DataFrame seeded every plan with a LocalTableScan +
        # Union node for no semantic benefit (guide §2.4: remove plan
        # nodes you did not ask for)
        if matches is None:
            return rows
        return matches.unionByName(rows)

    def _term_leaf_fields(self, q: TermQuery) -> list[str]:
        if q.field == ANY_FIELD:
            return [
                f for f in self.schema.indexed_fields if not self.schema.is_unique(f)
            ]
        return [q.field]

    def _leaf_term(
        self, q: TermQuery, matches: DataFrame | None, ctx: _Ctx
    ) -> DataFrame | None:
        t = self.schema.analyzer.transform(q.value)
        if t is None:
            return matches
        t = str(t)
        fields = self._term_leaf_fields(q)
        base_seq = ctx.next()
        exact = self._postings_where(
            (F.col("term") == t) & F.col("field").isin(fields)
        ).select("doc_id", "field")
        # ctx.term_hits is guaranteed by _compute's lazy prefetch — there
        # is no per-leaf existence-job fallback (a 3-term AND costs the
        # same number of jobs as a 1-term query; asserted in
        # tests/test_round5_fixes.py)
        has_exact = any(ctx.term_hits.get((t, f), False) for f in fields)
        if not has_exact:
            exact = self._typo_candidates(t, fields)
        return self._attach(matches, exact, q.value, base_seq)

    def _typo_candidates(self, t: str, fields: list[str]) -> DataFrame:
        """Same final semantics as the reference's state-set automaton +
        refilter (src/Index/AbstractStorage.php:182-205, SURVEY.md Q5).

        Two physical strategies with identical output (equivalence-tested,
        tests/test_typo_ngram.py):

        - ``'ngram'`` — the scale path: bigram posting index over
          dictionary terms (provably lossless for the reference's d=1/
          len>=5, d=2/len>=9 thresholds — index/typo_ngram.py), probed by
          the query's grams, then length band + exact Levenshtein verify.
          O(matching grams) instead of O(|dictionary|) per query.
        - ``'scan'`` — length-banded Levenshtein over the whole dictionary:
          one cheap scan, no gram-probe join. Faster while the dictionary
          is small (measured at sf0.1's 30k-term dictionary: scan 2.1 s vs
          ngram 3.0 s — the probe join's extra job dominates).
        - ``'auto'`` (default) picks by dictionary size: the scan's cost
          grows linearly with |dict| while the probe stays O(grams), so
          above ``_TYPO_AUTO_DICT_THRESHOLD`` terms the ngram index wins.
        """
        d = levenshtein_distance_for_term(t)
        empty = self.spark.createDataFrame([], "doc_id long, field string")
        if d == 0:
            return empty
        strategy = self.typo_strategy
        if strategy == "auto":
            if self._dict_size < 0:
                self._dict_size = self.index.dict_df.count()
            strategy = (
                "ngram" if self._dict_size >= _TYPO_AUTO_DICT_THRESHOLD else "scan"
            )
            if strategy == "scan":
                # driver-refined scan: when the dictionary already lives in
                # the driver cache, the length-band + Levenshtein filter
                # runs locally (banded DP, O(|band| * |t| * d) — tens of
                # ms under the 150k auto threshold) and the leaf becomes a
                # single postings IN-list scan — no dictionary scan job,
                # no candidate broadcast join (guide §2.4). Identical
                # candidates: the banded DP decides lev <= d exactly like
                # F.levenshtein, and postings only contain real (field,
                # term) rows, so the isin x isin filter equals the pair
                # join of the distributed form.
                cache = self._term_field_cache()
                if cache is not None:
                    fset = set(fields)
                    cand_terms = [
                        ct
                        for ct, cfs in cache.items()
                        if abs(len(ct) - len(t)) <= d
                        and not fset.isdisjoint(cfs)
                        and _lev_within(ct, t, d)
                    ]
                    if not cand_terms:
                        return empty
                    return self._postings_where(
                        F.col("term").isin(cand_terms)
                        & F.col("field").isin(fields)
                    ).select("doc_id", "field")
        if strategy == "ngram":
            from phphinder_spark.index.typo_ngram import typo_candidate_terms

            cand = typo_candidate_terms(self.index.ngram_df, t, fields)
        else:
            cand = (
                self.index.dict_df.where(F.col("field").isin(fields))
                .where(F.abs(F.length("term") - F.lit(len(t))) <= d)
                .where(F.levenshtein(F.col("term"), F.lit(t)) <= d)
                .select("field", "term")
            )
        # no .distinct(): a doc matched by several candidate terms emits
        # duplicate (doc_id, field) rows, but every downstream consumer
        # is set-shaped — the finalize aggregate's array_distinct/min and
        # the count filter collapse duplicates — so the distinct was one
        # avoidable exchange per typo leaf (guide §2.4); the finalize
        # groupBy's map-side partial aggregation absorbs the extra rows
        return self._postings_for_terms(cand).select("doc_id", "field")

    def _leaf_prefix(self, q: PrefixQuery, matches: DataFrame, ctx: _Ctx) -> DataFrame:
        p = self.schema.analyzer.transform(q.value)
        if p is None:
            return matches
        p = str(p)
        # prefix search includes unique fields (reference
        # AbstractStorage::loadPrefixIndices has no unique skip, :271-284)
        fields = (
            self.schema.indexed_fields if q.field == ANY_FIELD else [q.field]
        )
        base_seq = ctx.next()
        # no .distinct() — same argument as the typo leaf: duplicates per
        # (doc, field) from multiple prefix-matched terms collapse in the
        # finalize aggregate; dropping it removes one exchange per leaf
        rows = self._postings_where(
            F.col("term").startswith(p) & F.col("field").isin(fields)
        ).select("doc_id", "field")
        return self._attach(matches, rows, q.value, base_seq)

    def _positional_faithful(self) -> bool:
        """True when the MAIN positional index can serve as the fulltext
        prefilter directly (analysis/analyzers.Analyzer.positional_faithful);
        other chains prefilter on the ``<field>#raw`` shadow field."""
        return self.schema.analyzer.positional_faithful()

    def _shadow_available(self, field: str) -> bool:
        """Does the loaded index carry ``<field>#raw`` shadow postings?
        Persisted indexes built before the shadow existed don't — those
        fall back to the stored-corpus scan. Answered from the segment
        store's driver chunk map when it is loaded, else by one probe job
        per (engine, field); cached, invalidated with the index."""
        if field not in self._shadow_ok:
            from phphinder_spark.index.builder import SHADOW_SUFFIX

            shadow = field + SHADOW_SUFFIX
            fields = self._store.fields() if self._store is not None else None
            if fields is not None:
                self._shadow_ok[field] = shadow in fields
            else:
                src = (
                    self._store.segments
                    if self._store is not None
                    else self.index.postings
                )
                self._shadow_ok[field] = (
                    src.where(F.col("field") == shadow).limit(1).count() > 0
                )
        return self._shadow_ok[field]

    def _phrase_use_index(self) -> bool:
        """Physical-path pick for the fulltext prefilter (mirrors the
        typo/simhash/BM25 ``auto`` gates). The positional/shadow
        candidate+verify plan is the cold-storage design — no stored-corpus
        substring scan — but it loses to ONE contains scan whenever the
        corpus is a cached in-memory column (measured at every size up to
        1M docs — see the module-level rule comment). ``'auto'`` picks by
        the corpus's physical residence: always prefilter when serving
        from the segment store or uncached parquet, scan when the docs
        frame is memory-cached."""
        if self.phrase_strategy == "index":
            return True
        if self.phrase_strategy == "scan":
            return False
        if self._store is not None:
            return True
        # memory mode: scan iff the stored corpus is cached in memory
        # (index_dataframe/flush paths cache it; from_index_dir(postings)
        # leaves docs on parquet, where the prefilter avoids re-reading
        # the whole text column per query). Caveat: useMemory reflects the
        # DECLARED storage level from the moment .cache() is called, not
        # the materialized/non-evicted fraction — a mostly-evicted or
        # disk-spilled cache still routes to the scan path and re-reads
        # cold data per query; callers with eviction pressure should pin
        # phrase_strategy='index' (the cold-storage plan) explicitly.
        return not self.index.docs.storageLevel.useMemory

    def _phrase_postings_src(self, analyzed: list[tuple[str, int]], label: str) -> DataFrame:
        """Postings source for the fulltext prefilter, pre-filtered to the
        phrase's slot term conditions (first: suffix, last: prefix,
        middles: equality; single token: containment) so segment-serving
        decodes only matching terms' posting arrays. ``fulltext_candidates``
        re-applies the per-slot conditions on this superset."""
        from phphinder_spark.index.builder import SHADOW_SUFFIX

        n = len(analyzed)
        if n == 1:
            tok = analyzed[0][0]
            if len(tok) >= 2 and not label.endswith(SHADOW_SUFFIX):
                # infix bigram probe over the persisted n-gram term index —
                # O(matching grams), replacing the O(|dictionary|) contains
                # scan (r03 wart #4). Shadow fields aren't in the n-gram
                # index (it indexes the typo dictionary) — they keep the
                # dictionary-sized cond below; so do 1-char tokens.
                from phphinder_spark.index.typo_ngram import (
                    infix_candidate_terms,
                )

                cand = infix_candidate_terms(self.index.ngram_df, tok, [label])
                # single-token candidates need doc ids only, no positions
                return self._postings_for_terms(cand)
            cond = F.col("term").contains(tok)
        else:
            cond = F.col("term").endswith(analyzed[0][0]) | F.col(
                "term"
            ).startswith(analyzed[-1][0])
            mids = [t for t, _ in analyzed[1:-1]]
            if mids:
                cond = cond | F.col("term").isin(mids)
        return self._postings_where(
            (F.col("field") == label) & cond, with_positions=True
        )

    def _leaf_fulltext(self, q: FullTextQuery, matches: DataFrame, ctx: _Ctx) -> DataFrame:
        if q.field == ANY_FIELD:
            # stored + fulltext fields only (reference
            # AbstractStorage::loadFulltextIndices, :303-322)
            fields = [
                f for f in self.schema.fulltext_fields if self.schema.is_stored(f)
            ]
        else:
            fields = [f for f in [q.field] if f in self.schema.fields]
        base_seq = ctx.next()
        docs = self.index.docs
        faithful = self._positional_faithful()
        use_index = self._phrase_use_index()
        analyzed = (
            [(str(t), p) for t, p in self.schema.analyzer.analyze(q.value)]
            if faithful and use_index
            else []
        )
        raw_analyzed: list[tuple[str, int]] | None = None
        parts = []
        for f in fields:
            if f not in docs.columns:
                continue
            prefilterable = use_index and (
                f in self.schema.indexed_fields and not self.schema.is_unique(f)
            )
            cands = None
            if prefilterable:
                from phphinder_spark.index.builder import SHADOW_SUFFIX
                from phphinder_spark.index.phrase import fulltext_candidates

                if analyzed:
                    # scale path: positional-index candidates (superset of
                    # substring matches, see index/phrase.fulltext_candidates)
                    cands = fulltext_candidates(
                        self._phrase_postings_src(analyzed, f), analyzed, f
                    )
                elif not faithful and self._shadow_available(f):
                    # stemmed/stopword chains: prefilter on the lowercase
                    # drop-free SHADOW field — candidates from lowercase
                    # alignment are a superset of the case-sensitive
                    # substring matches (builder.shadow_fields)
                    if raw_analyzed is None:
                        from phphinder_spark.analysis import Analyzer

                        raw_analyzed = [
                            (str(t), p)
                            for t, p in Analyzer.lowercase_only().analyze(q.value)
                        ]
                    if raw_analyzed:
                        cands = fulltext_candidates(
                            self._phrase_postings_src(
                                raw_analyzed, f + SHADOW_SUFFIX
                            ),
                            raw_analyzed,
                            f + SHADOW_SUFFIX,
                        )
            if cands is not None:
                # + case-sensitive contains verify on the candidates ONLY —
                # never a full stored-corpus substring scan
                parts.append(
                    cands.join(docs.select("doc_id", f), "doc_id")
                    .where(F.col(f).contains(q.value))
                    .select("doc_id", F.lit(f).alias("field"))
                )
                continue
            parts.append(
                docs.where(F.col(f).contains(q.value)).select(
                    "doc_id", F.lit(f).alias("field")
                )
            )
        if parts:
            rows = parts[0]
            for p in parts[1:]:
                rows = rows.unionByName(p)
        else:
            rows = self.spark.createDataFrame([], "doc_id long, field string")
        out = self._attach(matches, rows, q.value, base_seq)
        ctx.events.append((ctx.next() * 1000, q.value))
        return out

    def _compute(
        self, q, matches: DataFrame | None, ctx: _Ctx, phrase: str,
        top: bool = False,
    ) -> DataFrame | None:
        """``matches`` may be ``None`` ("no match rows yet") — leaves then
        return their rows directly instead of unioning into an empty
        seed frame; ``None`` and an empty frame are semantically
        interchangeable everywhere below."""
        if ctx.term_hits is None:
            # direct _compute callers (not via search_df) still get ONE
            # batched dictionary probe for the whole subtree — term leaves
            # never fall back to per-leaf existence jobs
            ctx.term_hits = self._prefetch_term_hits(q)
        if isinstance(q, (AndQuery, OrQuery)) and not isinstance(q, NotQuery):
            return self._group(q, matches, ctx, phrase, top=top)
        if isinstance(q, NotQuery):
            excluded = self._compute(q.get_subquery(), None, ctx, phrase)
            if matches is None or excluded is None:
                return matches
            # no .distinct() on the excluded side: anti-join semantics are
            # set-based already, and the hash build dedups keys — the
            # distinct was a whole extra exchange per NOT (guide §2.4)
            return matches.join(
                excluded.select("doc_id"), "doc_id", "left_anti"
            )
        if isinstance(q, TermQuery):
            return self._leaf_term(q, matches, ctx)
        if isinstance(q, PrefixQuery):
            return self._leaf_prefix(q, matches, ctx)
        if isinstance(q, FullTextQuery):
            return self._leaf_fulltext(q, matches, ctx)
        if isinstance(q, NullQuery):
            return matches
        return matches

    def _group(
        self, q: GroupQuery, matches: DataFrame | None, ctx: _Ctx, phrase: str,
        top: bool = False,
    ) -> DataFrame | None:
        """Evaluate subqueries in priority order (stable: NOT last).

        Exact-hit term leaves are FUSED into one postings scan per
        distinct field scope: ``term IN (t1..tn)`` with qvalue/seq
        restored by a CASE on the matched term — n leaves cost one scan
        + zero unions instead of n scans + n union branches (guide
        §2.3/§2.4). Rows, qvalues and seq numbers are identical to the
        per-leaf form by construction (seq is allocated at each leaf's
        iteration position, and fusion is skipped when two leaves share
        a transformed term, where one CASE branch could not represent
        both). Typo-fallback leaves and non-term subqueries keep their
        own plans; pending fused leaves flush before any nested group /
        NOT so exclusions always see every positive row accumulated so
        far."""
        subs = sorted(q.subqueries, key=lambda s: s.priority)  # stable: NOT last
        pending: list[tuple[str, str, int, tuple[str, ...]]] = []

        def flush(m: DataFrame | None) -> DataFrame | None:
            if not pending:
                return m
            by_fields: dict[tuple[str, ...], list[tuple[str, str, int]]] = {}
            for t, qv, seq, flds in pending:
                by_fields.setdefault(flds, []).append((t, qv, seq))
            pending.clear()
            for flds, leaves in by_fields.items():
                if len(leaves) == 1:
                    t, qv, seq = leaves[0]
                    rows = self._postings_where(
                        (F.col("term") == t) & F.col("field").isin(list(flds))
                    ).select("doc_id", "field")
                    m = self._attach(m, rows, qv, seq)
                    continue
                ts = [t for t, _, _ in leaves]
                rows = self._postings_where(
                    F.col("term").isin(ts) & F.col("field").isin(list(flds))
                ).select("doc_id", "field", "term")
                qv_expr = F.lit(None).cast("string")
                seq_expr = F.lit(0)
                for t, qv, seq in leaves:
                    qv_expr = F.when(F.col("term") == t, F.lit(qv)).otherwise(qv_expr)
                    seq_expr = F.when(
                        F.col("term") == t, F.lit(seq * 1000)
                    ).otherwise(seq_expr)
                rows = rows.select(
                    "doc_id",
                    qv_expr.alias("qvalue"),
                    "field",
                    (seq_expr + self._field_pos_col()).alias("seq"),
                )
                m = rows if m is None else m.unionByName(rows)
            return m

        for s in subs:
            if type(s) is TermQuery:
                t = self.schema.analyzer.transform(s.value)
                if t is None:
                    continue  # same as the per-leaf path: contributes nothing
                t = str(t)
                flds = tuple(self._term_leaf_fields(s))
                has_exact = any(ctx.term_hits.get((t, f), False) for f in flds)
                if has_exact and all(t != pt for pt, _, _, _ in pending):
                    pending.append((t, s.value, ctx.next(), flds))
                    continue
                # typo fallback or duplicate transformed term: per-leaf path
                matches = self._leaf_term(s, flush(matches), ctx)
                continue
            if isinstance(s, GroupQuery):
                # nested groups can contain a NOT, which anti-joins every
                # positive row so far — flush pending leaves first
                matches = flush(matches)
            matches = self._compute(s, matches, ctx, phrase)
        matches = flush(matches)
        if isinstance(q, AndQuery):
            n_text = len([s for s in q.subqueries if isinstance(s, TextQuery)])
            if top:
                # defer the count filter into the finalize aggregate — the
                # distinct-terms count there is the same quantity, so the
                # extra groupBy + semi-join shuffle is avoided
                ctx.pending_and_count = n_text
            elif matches is not None:
                ok = (
                    matches.groupBy("doc_id")
                    .agg(F.countDistinct("qvalue").alias("c"))
                    .where(F.col("c") == n_text)
                    .select("doc_id")
                )
                matches = matches.join(ok, "doc_id", "left_semi")
            ctx.events.append((ctx.next() * 1000, phrase))
        return matches

    def _fulltext_flag_expr(self, phrase: str) -> F.Column:
        """Case-sensitive substring over stored fulltext fields, last
        non-null field wins (reference SearchEngine::assignFulltextMatch
        loops fields in schema order overwriting the flag)."""
        flag = F.lit(False)
        for f in self.schema.fulltext_fields:
            if not self.schema.is_stored(f):
                raise ValueError(
                    f"Field `{f}` is declared as fulltext but not stored."
                )
            flag = F.when(F.col(f).isNotNull(), F.col(f).contains(phrase)).otherwise(flag)
        return flag

    def _finalize(
        self, q, matches: DataFrame | None, ctx: _Ctx, phrase: str
    ) -> DataFrame:
        """Aggregate match rows per doc, attach stored docs, compute the
        fulltext flag and (for group queries) the reference weight."""
        if matches is None:
            matches = self._empty_matches()
        agg = matches.groupBy("doc_id").agg(
            F.array_distinct(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seq", "qvalue"))),
                    lambda s: s.qvalue,
                )
            ).alias("terms"),
            F.array_distinct(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seq", "field"))),
                    lambda s: s.field,
                )
            ).alias("fields"),
            F.min("seq").alias("min_seq"),
        )
        if ctx.pending_and_count is not None:
            agg = agg.where(F.size("terms") == ctx.pending_and_count)
        docs = self.index.docs
        out = agg.join(docs, "doc_id", "left")

        flag = F.lit(False)
        for eseq, ephrase in ctx.events:
            flag = F.when(F.col("min_seq") < eseq, self._fulltext_flag_expr(ephrase)).otherwise(flag)
        out = out.withColumn("fulltext", flag)

        if isinstance(q, (AndQuery, OrQuery)) and not isinstance(q, NotQuery):
            groups: dict[str, tuple[list[str], float]] = {}
            for s in q.subqueries:
                if isinstance(s, TextQuery):
                    vals, boost = groups.get(s.field, ([], 0.0))
                    groups[s.field] = (vals + [s.value], boost + getattr(s, "boost", 1.0))
            score = reference_score(
                F.col("fields"), F.col("terms"), groups, self._all_field_labels()
            )
            score = (
                score
                + F.when(F.col("fulltext"), F.lit(10.0)).otherwise(F.lit(0.0))
                + F.lit(2.0) * F.size("terms").cast("double")
            )
            out = out.withColumn("weight", score).orderBy(
                F.desc("weight"), F.asc("doc_id")
            )
        else:
            out = out.withColumn("weight", F.lit(0.0)).orderBy(F.asc("doc_id"))
        return out.drop("min_seq")

    def search_df(self, phrase: str) -> DataFrame:
        """Full reference semantics; returns (doc_id, terms, fields,
        fulltext, weight, <stored fields>) ordered like the reference."""
        if self.index is None:
            # reference searches over empty storage return no results;
            # stored columns keep their DECLARED types so unions with
            # non-empty results stay schema-compatible
            fields = [
                T.StructField("doc_id", T.LongType()),
                T.StructField("terms", T.ArrayType(T.StringType())),
                T.StructField("fields", T.ArrayType(T.StringType())),
                T.StructField("fulltext", T.BooleanType()),
                T.StructField("weight", T.DoubleType()),
            ] + [
                T.StructField(f, self.schema.spark_type(f))
                for f in self.schema.stored_fields
            ]
            return self.spark.createDataFrame([], T.StructType(fields))
        query = QueryParser(ANY_FIELD).parse(phrase)
        ctx = _Ctx()
        ctx.term_hits = self._prefetch_term_hits(query)
        matches = self._compute(query, None, ctx, phrase, top=True)
        return self._finalize(query, matches, ctx, phrase)

    def warm_shapes(self, bm25: bool = True) -> dict[str, float]:
        """Pre-pay the per-session, per-SHAPE first-query costs (JVM
        whole-stage-codegen compile + python<->jvm warm paths) for every
        standard query shape — term, AND, OR, NOT, prefix, phrase, typo
        and (optionally) BM25 top-k — so an interactive serving process
        compiles at startup instead of on each shape's first user query.
        Codegen caches on the generated source, in which literals are
        plan references: a later query of the same shape with DIFFERENT
        terms reuses the compiled class (the effect the bench's
        build-split warmup measures for the term/typo shapes; this
        generalizes it to the full shape set).

        Warmup terms come from the driver-side dictionary cache when it
        fits (zero extra jobs), else one 2-row dictionary probe. Returns
        {shape: seconds} so callers can account warmup to build time the
        way bench.py does. Idempotent; safe on an empty index."""
        import time as _time

        if self.index is None:
            return {}
        cache = self._term_field_cache()
        if cache is not None:
            terms = sorted(cache)[:2]
        else:
            terms = [
                r["term"]
                for r in self.index.dict_df.select("term")
                .orderBy("term")
                .limit(2)
                .collect()
            ]
        if not terms:
            return {}
        t1, t2 = terms[0], terms[-1]
        absent = t1 + "xq"
        while cache is not None and absent in cache:
            absent += "q"
        shapes = {
            "term": t1,
            "and": f"{t1} {t2}",
            "or": f"{t1} OR {t2}",
            "not": f"{t1} NOT({t2})",
            "prefix": f"{t1[: max(len(t1) - 1, 1)]}*",
            "phrase": f'"{t1} {t2}"',
            "typo": absent,
        }
        timings: dict[str, float] = {}
        for shape, q in shapes.items():
            t0 = _time.time()
            self.search_df(q).count()
            timings[shape] = round(_time.time() - t0, 3)
        if bm25:
            t0 = _time.time()
            self.search_topk_bm25(f"{t1} {t2}", k=1).count()
            timings["bm25"] = round(_time.time() - t0, 3)
        return timings

    def _term_field_cache(self) -> dict[str, dict[str, int]] | None:
        """Driver-side term -> {field: df} dictionary, built ONCE per
        index (from dict_df — the persisted dictionary artifact in
        segment mode, the shadow-free postings dictionary in memory mode)
        when the dictionary fits under ``_DICT_DRIVER_CACHE_MAX`` rows;
        None above the cap. Turns the per-query existence prefetch into a
        local dict probe — zero Spark jobs per warm query (round-5
        verdict #3) — and hands BM25 its per-term document frequencies
        without a per-query dfreq shuffle (the df values are exactly
        dict_df's, i.e. the postings row count per (field, term))."""
        if not self._tf_cache_tried:
            self._tf_cache_tried = True
            if self._dict_size < 0:
                self._dict_size = self.index.dict_df.count()
            if self._dict_size <= _DICT_DRIVER_CACHE_MAX:
                by_term: dict[str, dict[str, int]] = {}
                for r in self.index.dict_df.select("term", "field", "df").collect():
                    by_term.setdefault(r["term"], {})[r["field"]] = int(r["df"])
                self._tf_cache = by_term
        return self._tf_cache

    def _prefetch_term_hits(self, query) -> dict[tuple[str, str], bool]:
        """(term, field) existence for every term leaf in the AST — from
        the driver-side dictionary cache when it fits (no Spark job), else
        ONE batched dictionary probe for the whole AST. Never a per-leaf
        existence-check job (the reference's lazy typo fallback needs a
        hit count per term, SURVEY.md §4)."""
        terms: set[str] = set()

        def walk(q) -> None:
            if isinstance(q, GroupQuery):
                for s in q.subqueries:
                    walk(s)
            elif isinstance(q, TermQuery):
                t = self.schema.analyzer.transform(q.value)
                if t is not None:
                    terms.add(str(t))

        walk(query)
        if not terms:
            return {}
        cache = self._term_field_cache()
        if cache is not None:
            return {
                (t, f): True for t in terms for f in cache.get(t, ())
            }
        # dictionary over the cap: one batched probe job for the whole AST
        # — the persisted DICTIONARY in segment-serving mode (probing
        # postings there would decode posting arrays), the cached postings frame
        # in memory mode
        if self._store is not None:
            src = self.index.dict_df
        else:
            src = self.index.postings
        rows = (
            src.where(F.col("term").isin(list(terms)))
            .select("term", "field")
            .distinct()
            .collect()
        )
        return {(r["term"], r["field"]): True for r in rows}

    def search(self, phrase: str) -> list[Result]:
        rows = self.search_df(phrase).collect()
        stored = [f for f in self.schema.stored_fields]
        return [
            Result(
                doc_id=r["doc_id"],
                terms=list(r["terms"]),
                indices=list(r["fields"]),
                fulltext=bool(r["fulltext"]),
                weight=float(r["weight"]),
                document={f: r[f] for f in stored if f in r.asDict()},
            )
            for r in rows
        ]

    def find_docs_by_index(self, term: str, field: str | None = None) -> dict[str, list[int]]:
        """Reference findDocsByIndex (src/SearchEngine.php:91-94): exact
        dictionary lookup per non-unique indexed field, no scoring.

        Segment-serving note: this routes through ``_postings_where`` —
        the (field, term) predicate is applied to segment rows before any
        posting decode, so it is safe (and warning-free) under
        ``from_index_dir(serve='segments')``; only direct access to
        ``index.postings`` trips the full-decode guard."""
        t = self.schema.analyzer.transform(term)
        result_fields = (
            [f for f in self.schema.indexed_fields if not self.schema.is_unique(f)]
            if field is None
            else [field]
        )
        if t is None:
            return {f: [] for f in result_fields}
        rows = (
            self._postings_where(
                (F.col("term") == str(t)) & F.col("field").isin(result_fields)
            )
            .groupBy("field")
            .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
            .collect()
        )
        out = {f: [] for f in result_fields}
        for r in rows:
            out[r["field"]] = list(r["ids"])
        return out

    def search_topk_bm25(
        self, phrase: str, k: int = 10, field: str | None = None,
        k1: float = 1.2, b: float = 0.75, strategy: str = "auto",
    ) -> DataFrame:
        """BM25 disjunctive top-k (north_star primary scorer): the one
        kernel ``scoring.bm25_topk`` over this engine's posting source —
        the open segment store, else the index's postings (cached, or the
        persisted ``postings/``).

        ``strategy='exhaustive'`` is Catalyst's TakeOrderedAndProject over
        all matching docs; ``strategy='blockmax'`` is the kernel's
        chunk-level block-max (doc-id chunks whose bound cannot reach θ
        are not scored; in memory mode the chunks are ``doc_id // span``
        ranges of the postings) — identical results by construction,
        cheaper when rare terms bound the threshold. ``'auto'`` (default)
        picks exhaustive in memory mode (one job, pruning can't beat
        cached-scan scoring locally) and blockmax in segment-serving
        mode, where skipped chunks are posting arrays never read
        (measured: at worst ~15% over exhaustive on a layout with nothing
        to skip, 1.6-1.7x ahead on clustered layouts — BENCH.md)."""
        if strategy not in ("auto", "exhaustive", "blockmax"):
            raise ValueError(
                "strategy must be 'auto', 'exhaustive' or 'blockmax', "
                f"got {strategy!r}"
            )
        field = self._bm25_field(field)
        if strategy == "auto":
            strategy = "blockmax" if self._store is not None else "exhaustive"
        if self.index is None:
            # reference searches over empty storage return no results
            return self.spark.createDataFrame([], "doc_id long, score double")
        terms = self._bm25_terms(phrase)
        source, df_by_term = self._bm25_source(field, set(terms))
        if strategy == "blockmax" and source is self._store:
            # looked up on the module per call, so a wrapper installed
            # there (perfbench/trace.py) sees segment block-max queries
            return segments.segment_bm25_topk_blockmax(
                self.spark, source, terms, field, k, k1, b
            )[0]
        return bm25_topk(
            source, terms, field, k, k1, b,
            prune=strategy == "blockmax", df_by_term=df_by_term,
        )[0]
