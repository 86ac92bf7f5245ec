"""Distributed inverted-index build (the Spark replacement for the
reference's per-row read-modify-write flush loop,
src/SearchEngine.php:53-63 + src/Index/AbstractStorage.php:108-128).

One declarative dataflow per indexed field:

    docs --analyze--> (doc_id, field, term, pos)
         --groupBy(field, term, doc_id)--> postings (tf, positions)

A chain that Spark can express (``Analyzer.spark_analyze``: the regex
tokenizer with lowercase, stopword and symbol steps, every unique field
and every ``#raw`` shadow field) is analyzed by Column expressions in
the JVM: token regex, ``posexplode``, then the per-token chain, so no
Python worker starts. Any other chain (stemmers, a user's own
transformer) runs in one Arrow-vectorized pandas UDF per field
(input_hint: no per-row Python UDFs). Posting aggregation is a hash
aggregate with map-side partial combine, so hot terms ("function",
"return") do NOT skew this stage — doc_id is part of the grouping key.
At scale the bare (field, term) dictionary is not re-aggregated from
postings: the segment store's per-(field, term, chunk) rows are its
partial combine, summed per term (index/segments.py).

The postings model is a superset of the reference's docID sets
(reference stores only comma-joined ids, src/Index/AbstractStorage.php:225):
we carry tf + positions per the north_star contract so BM25 and positional
phrase matching work at scale while set-membership semantics stay exact.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from phphinder_spark.analysis import Analyzer
from phphinder_spark.functions.frames import local_frame
from phphinder_spark.schema import SearchSchema

_ANALYZED_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("term", T.StringType()),
            T.StructField("pos", T.IntegerType()),
        ]
    )
)

POSTINGS_DDL = "field string, term string, doc_id long, tf long, positions array<int>"


def _analyze_udf(analyzer: Analyzer, unique: bool):
    """Arrow-vectorized analyzer for a chain with no JVM form:
    Series[str] -> Series[list[(term, pos)]].

    Unique fields bypass the transformer chain (reference:
    src/Index/AbstractStorage.php:114-119) but are still tokenized.
    """

    def analyze_batch(s: pd.Series) -> pd.Series:
        if unique:
            return s.map(
                lambda v: []
                if v is None
                else [(str(t), i) for i, t in enumerate(analyzer.tokenizer.apply(v))]
            )
        return s.map(
            lambda v: []
            if v is None
            else [(str(t), p) for t, p in analyzer.analyze(v)]
        )

    # asNondeterministic: the analyzer IS deterministic, but without the
    # marker Catalyst pushes the Generate's implied filter (size(toks)>0)
    # below the projection and re-evaluates the UDF on both sides — two
    # ArrowEvalPython nodes per field, every document analyzed twice
    # (optimization guide §4.4; verified in the cached-postings build
    # plan). The marker pins a single evaluation; tokenization output is
    # unchanged.
    return F.pandas_udf(analyze_batch, _ANALYZED_TYPE).asNondeterministic()


SHADOW_SUFFIX = "#raw"


def shadow_fields(schema: SearchSchema) -> list[str]:
    """Fields that get a lowercase drop-free SHADOW positional index
    (labelled ``<field>#raw``) alongside the analyzed terms.

    Built only when the main analyzer is NOT positional-faithful
    (stemming/stopword chains): phrase/fulltext queries then prefilter on
    the shadow field — the substring-superset proof of
    ``index/phrase.fulltext_candidates`` holds in lowercase space
    (case-sensitive contains ⊆ lowercase contains), so the stored-corpus
    substring scan is avoided for every analyzer chain, including the
    reference's own stemmed Alice chain. Cost: up to 2x posting rows for
    the shadowed fields — the standard shadow-field tradeoff; faithful
    chains pay nothing."""
    if schema.analyzer.positional_faithful():
        return []
    return [
        f
        for f in schema.indexed_fields
        if not schema.is_unique(f) and schema.is_stored(f)
    ]


def tokenize_field(
    df: DataFrame,
    field: str,
    analyzer: Analyzer,
    unique: bool = False,
    label: str | None = None,
) -> DataFrame:
    """(doc_id, <field>) -> exploded (doc_id, field, term, pos): in the
    JVM when the chain has a Spark form, else through the pandas UDF."""
    label = label or field
    if dict(df.dtypes).get(field) not in ("string",):
        # non-strings pass through as one whole token (reference:
        # src/Token/RegexTokenizer.php:21-23)
        return (
            df.where(F.col(field).isNotNull())
            .select(
                "doc_id",
                F.lit(label).alias("field"),
                F.col(field).cast("string").alias("term"),
                F.lit(0).alias("pos"),
            )
        )
    toks = analyzer.spark_analyze(df, field, "doc_id", unique=unique)
    if toks is None:
        toks = (
            df.select("doc_id", F.explode(_analyze_udf(analyzer, unique)(df[field])).alias("tk"))
            .select("doc_id", F.col("tk.term").alias("term"), F.col("tk.pos").alias("pos"))
        )
    return toks.select("doc_id", F.lit(label).alias("field"), "term", "pos")


def build_postings(df: DataFrame, schema: SearchSchema) -> DataFrame:
    """All indexed fields -> (field, term, doc_id, tf, positions).

    Non-positional-faithful analyzers also emit ``<field>#raw`` shadow
    rows (lowercase drop-free) for the phrase prefilter — see
    ``shadow_fields``."""
    parts = []
    for field in schema.indexed_fields:
        if field not in df.columns:
            continue
        parts.append(tokenize_field(df, field, schema.analyzer, schema.is_unique(field)))
    raw_analyzer = Analyzer.lowercase_only()
    for field in shadow_fields(schema):
        if field not in df.columns or dict(df.dtypes).get(field) != "string":
            continue
        parts.append(
            tokenize_field(df, field, raw_analyzer, label=field + SHADOW_SUFFIX)
        )
    if not parts:
        return local_frame(df.sparkSession, [], POSTINGS_DDL)
    tokens = parts[0]
    for p in parts[1:]:
        tokens = tokens.unionByName(p)
    return tokens.groupBy("field", "term", "doc_id").agg(
        F.count("*").alias("tf"),
        F.sort_array(F.collect_list("pos")).alias("positions"),
    )


def _whole_token(value) -> str:
    """A non-string value as the one token Spark's ``cast("string")``
    makes of it: booleans in lower case, doubles by the driver JVM's
    ``Double.toString``, the function the cast calls."""
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, float):
        from pyspark import SparkContext

        return SparkContext._active_spark_context._jvm.java.lang.Double.toString(value)
    return str(value)


def postings_of_rows(schema: SearchSchema, rows: list[dict]) -> list[tuple]:
    """``build_postings`` of driver rows, computed on the driver:
    (field, term, doc_id, tf, positions) tuples. Rows carry ``doc_id``
    and values already coerced to the schema's types. String fields go
    through ``Analyzer.analyze`` (the tokenizer alone for the unique
    field), other values are one whole token, and ``#raw`` shadow fields
    take the lowercase chain — the same terms and positions the Spark
    build makes (pinned equal in tests/test_jvm_analysis.py)."""
    acc: dict[tuple, list[int]] = {}
    analyzer = schema.analyzer
    raw = Analyzer.lowercase_only()
    for row in rows:
        doc_id = row["doc_id"]
        for f in schema.indexed_fields:
            v = row.get(f)
            if v is None:
                continue
            if schema.types[f] != "string":
                toks = [(_whole_token(v), 0)]
            elif schema.is_unique(f):
                toks = [(str(t), i) for i, t in enumerate(analyzer.tokenizer.apply(v))]
            else:
                toks = [(str(t), p) for t, p in analyzer.analyze(v)]
            for t, p in toks:
                acc.setdefault((f, t, doc_id), []).append(p)
        for f in shadow_fields(schema):
            v = row.get(f)
            if v is None or schema.types[f] != "string":
                continue
            for t, p in raw.analyze(v):
                acc.setdefault((f + SHADOW_SUFFIX, str(t), doc_id), []).append(p)
    return [(f, t, d, len(ps), sorted(ps)) for (f, t, d), ps in acc.items()]


def build_doclens(postings: DataFrame) -> DataFrame:
    """(doc_id, field, dl) — post-analysis token counts for BM25."""
    return postings.groupBy("doc_id", "field").agg(F.sum("tf").alias("dl"))


def index_stats(n_docs: int, dl: dict[str, tuple[int, int]]) -> dict:
    """BM25 corpus stats from the document count and, per field, the
    (sum of dl, number of docs with the field) pair. One formula for
    ``InvertedIndex.stats`` and for the stats a flush maintains, so both
    give bit-identical scores."""
    return {
        "n_docs": n_docs,
        "avgdl": {f: s / n for f, (s, n) in dl.items()},
        "dl": dl,
    }


def dictionary(postings: DataFrame) -> DataFrame:
    """(field, term, df) document frequencies."""
    return postings.groupBy("field", "term").agg(F.count("*").alias("df"))


class InvertedIndex:
    """Index relations: docs + postings + doclens, and the BM25 stats.

    ``resident`` says whether docs and postings sit in executor memory:
    cached here, or materialised by the storage that owns them
    (``MemoryStorage``). Phrase routing keys on it."""

    def __init__(
        self,
        schema: SearchSchema,
        docs: DataFrame,
        postings: DataFrame,
        doclens: DataFrame | None = None,
        resident: bool = False,
    ):
        self.schema = schema
        self.docs = docs
        self._postings = postings
        self.doclens = build_doclens(postings) if doclens is None else doclens
        self.resident = resident
        self._dict = None
        self._ngram = None
        self._stats = None
        # set by SparkSearchEngine.from_index_dir(serve="segments"): touching
        # .postings there silently decodes the ENTIRE compressed store — the
        # guard makes that invariant structural instead of conventional
        self._postings_guard: str | None = None

    @property
    def postings(self) -> DataFrame:
        if self._postings_guard is not None:
            import warnings

            warnings.warn(self._postings_guard, RuntimeWarning, stacklevel=2)
        return self._postings

    @property
    def dict_df(self) -> DataFrame:
        if self._dict is None:
            # shadow (<field>#raw) rows are a phrase-prefilter internal:
            # they must not surface as typo/prefix dictionary terms
            self._dict = dictionary(
                self.postings.where(~F.col("field").endswith(SHADOW_SUFFIX))
            ).cache()
        return self._dict

    @property
    def ngram_df(self) -> DataFrame:
        """Bigram posting index over dictionary TERMS — built once, cached;
        the typo path probes it by gram instead of scanning the whole
        dictionary per query (index/typo_ngram.py)."""
        if self._ngram is None:
            from phphinder_spark.index.typo_ngram import build_ngram_index

            self._ngram = build_ngram_index(self.dict_df).cache()
        return self._ngram

    def stats(self) -> dict:
        """``index_stats`` of the docs count and the doclens sums per
        field; counted once, or handed over by a flush that maintained
        them (``SparkSearchEngine.flush``)."""
        if self._stats is None:
            n = self.docs.count()
            dl = {
                r["field"]: (int(r["s"]), int(r["n"]))
                for r in self.doclens.groupBy("field")
                .agg(F.sum("dl").alias("s"), F.count("*").alias("n"))
                .collect()
            }
            self._stats = index_stats(n, dl)
        return self._stats

    def cache(self) -> "InvertedIndex":
        self.resident = True
        self.docs.cache()
        self._postings.cache()
        # doclens is an index ARTIFACT (segment-serving persists it as a
        # parquet table): without the cache every BM25 query re-runs the
        # full postings->doclens aggregation — one avoidable corpus-scale
        # shuffle per query (guide §2.4). It materializes with stats()'s
        # avgdl pass, so cached engines pay it once at build.
        self.doclens.cache()
        return self

    def unpersist(self) -> None:
        self.docs.unpersist()
        self._postings.unpersist()
        self.doclens.unpersist()
        # derived caches materialize lazily (dict_df on demand, ngram_df
        # behind the typo path) — release them too or every flush's
        # _refresh_index leaks one cached dictionary + bigram index
        if self._dict is not None:
            self._dict.unpersist()
            self._dict = None
        if self._ngram is not None:
            self._ngram.unpersist()
            self._ngram = None


def assign_doc_ids(df: DataFrame, order_cols: list[str], n_buckets: int = 1024) -> DataFrame:
    """Deterministic dense doc_id (1..N), invariant to partitioning,
    parallelism and plan re-computation.

    NOT ``monotonically_increasing_id`` (partition-layout dependent), NOT a
    global ``row_number`` window (single-task funnel — a 100TB non-starter),
    and NOT rank-after-``repartitionByRange`` (range boundaries are sampled,
    so two materializations of the same plan can assign different ids — a
    correctness bug this function previously had). Instead each row's bucket
    is derived from the row itself (``xxhash64(order_cols) mod n_buckets``),
    ranks are per-bucket windows ordered by ``order_cols``, and bucket
    offsets are exact cumulative counts — every term in the id is a pure
    function of row content, so any re-computation yields identical ids.
    Ids are dense 1..N but not globally sorted by ``order_cols`` (sorted
    only within a bucket); determinism is the contract (north_rule).
    """
    from pyspark.sql.window import Window

    bucket = F.pmod(F.xxhash64(*order_cols), F.lit(n_buckets)).cast("int")
    sdf = df.withColumn("_b", bucket)
    # offsets = exclusive prefix sum over the n_buckets-row count table —
    # a single-partition window over <= n_buckets rows, fully lazy (no
    # driver action), then broadcast back onto the data
    counts = sdf.groupBy("_b").count()
    w_off = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_b", F.coalesce(F.sum("count").over(w_off), F.lit(0)).alias("_off")
    )
    w = Window.partitionBy("_b").orderBy(*order_cols)
    return (
        sdf.withColumn("_rn", F.row_number().over(w))
        .join(F.broadcast(offsets), "_b")
        .withColumn("doc_id", (F.col("_off") + F.col("_rn")).cast("long"))
        .drop("_b", "_rn", "_off")
    )


def build_index(df: DataFrame, schema: SearchSchema) -> InvertedIndex:
    """Bulk build: project stored fields, build postings."""
    cols = ["doc_id"] + [f for f in schema.fields if f in df.columns]
    docs = df.select(*cols)
    postings = build_postings(df, schema)
    return InvertedIndex(schema, docs, postings)


def assign_doc_ids_clustered(
    df: DataFrame, cluster_cols: list[str], order_cols: list[str]
) -> DataFrame:
    """Dense deterministic doc_id (1..N) where each distinct
    ``cluster_cols`` value owns a CONTIGUOUS id range — doc-id
    reassignment by content clustering, the standard IR trick that makes
    block/chunk skipping effective (terms of a cluster land in few
    chunks instead of everywhere).

    Plan: per-cluster counts -> driver-side prefix offsets over the
    (small) cluster table -> per-cluster row_number windows + broadcast
    offset join. Deterministic like ``assign_doc_ids``: every id term is
    a pure function of row content. Caveat: one window partition per
    cluster — cluster sizes must be bounded (pick cluster_cols with
    cardinality >> n_executors and size << partition budget; for skewed
    clusters fall back to ``assign_doc_ids``)."""
    from pyspark.sql.window import Window

    counts = df.groupBy(*cluster_cols).count()
    w_off = Window.orderBy(*cluster_cols).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        *cluster_cols,
        F.coalesce(F.sum("count").over(w_off), F.lit(0)).alias("_off"),
    )
    w = Window.partitionBy(*cluster_cols).orderBy(*order_cols)
    return (
        df.join(F.broadcast(offsets), cluster_cols)
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("doc_id", (F.col("_off") + F.col("_rn")).cast("long"))
        .drop("_rn", "_off")
    )
