"""Deterministic synthetic source-code corpus with the input_hint shape
``(repo:string, path:string, commit:string, lang:string, content:string)``
(BASELINE.json input_hint). Every row is derived from ``(seed, i)`` alone —
no wall clock, no sequential RNG state — so generation is embarrassingly
parallel AND byte-identical at any partitioning/parallelism, which the
resume/determinism/scaling tests rely on.

Token distribution is Zipf-ish with hot code keywords ("function",
"return", "import", ...) appearing in ~every document — the skew case the
north_rule calls out — plus per-doc rare identifiers for selective queries.
"""

from __future__ import annotations

import hashlib
import random
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from phphinder_spark.functions.frames import local_frame

LANGS = ["py", "php", "js", "go", "md"]

HOT_TERMS = ["function", "return", "import", "class", "def", "value", "data"]

COMMON_TERMS = [
    "parse", "index", "token", "query", "search", "merge", "segment",
    "postings", "score", "rank", "cache", "buffer", "stream", "batch",
    "shuffle", "partition", "broadcast", "filter", "reduce", "map",
    "string", "integer", "vector", "matrix", "engine", "driver",
    "executor", "compress", "encode", "decode", "varint", "delta",
]


def _zipf_token(rng: random.Random, vocab_size: int = 30000) -> str:
    """Zipf(s=1)-ranked identifier: P(rank r) ∝ 1/r via inverse-CDF on
    the harmonic sum approximation (deterministic given rng state)."""
    import math

    h = math.log(vocab_size) + 0.5772
    u = rng.random() * h
    r = min(vocab_size, max(1, int(math.exp(u))))
    return f"id{r}"


def make_row(
    i: int, seed: int = 42, n_docs: int = 0, zipf: bool | str = False
) -> tuple:
    rng = random.Random(f"{seed}:{i}")
    repo = f"org/repo-{i % max(1, (n_docs or 100) // 100)}"
    lang = LANGS[i % len(LANGS)]
    path = f"src/module_{i % 20}/file_{i}.{lang}"
    commit = hashlib.sha1(f"{seed}:{i}".encode()).hexdigest()

    n_tokens = 40 + rng.randrange(160)
    toks: list[str] = []
    for _ in range(n_tokens):
        r = rng.random()
        if zipf:
            # realistic Zipf term-frequency skew: hot keywords still at
            # ~every doc, identifier tail ranked 1/r — the distribution
            # where block-max pruning matters (mid-rank terms exist).
            # zipf="topics": the identifier vocabulary is per-language
            # (t<lang>_ prefix) — content correlated with an orderable
            # column, the precondition for doc-id clustering to localize
            # terms into chunks (IR doc-reordering)
            if r < 0.25:
                toks.append(rng.choice(HOT_TERMS))
            elif zipf == "topics":
                toks.append(f"t{i % len(LANGS)}_{_zipf_token(rng)}")
            else:
                toks.append(_zipf_token(rng))
        elif r < 0.35:
            toks.append(rng.choice(HOT_TERMS))
        elif r < 0.85:
            toks.append(rng.choice(COMMON_TERMS))
        else:
            toks.append(f"ident_{rng.randrange(5000)}")
    if i % 50 == 0:
        toks.append(f"needle_{i}")
    lines = [" ".join(toks[j : j + 8]) for j in range(0, len(toks), 8)]
    content = "\n".join(lines)
    return (repo, path, commit, lang, content)


def generate_code_corpus_rows(n_docs: int, seed: int = 42) -> list[tuple]:
    return [make_row(i, seed, n_docs) for i in range(n_docs)]


def generate_code_corpus(
    spark: SparkSession,
    n_docs: int,
    seed: int = 42,
    partitions: int | None = None,
    zipf: bool | str = False,
) -> DataFrame:
    """Distributed generation: spark.range -> mapInPandas, one row per id.

    Scales linearly with cores; per-row determinism is independent of the
    partition layout."""
    import pandas as pd

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [make_row(int(i), seed, n_docs, zipf) for i in pdf["id"]]
            yield pd.DataFrame(
                rows, columns=["repo", "path", "commit", "lang", "content"]
            )

    base = spark.range(0, n_docs, numPartitions=partitions or spark.sparkContext.defaultParallelism)
    return base.mapInPandas(
        gen, "repo string, path string, commit string, lang string, content string"
    )


def load_text_corpus(
    spark: SparkSession,
    path: str,
    chapter_regex: str = r"^CHAPTER ([MDCLXVI]+)\.$",
) -> DataFrame:
    """Distributed text-corpus loader (reference S7: the Alice chapter
    loader, tests/Performance/AliceSearchEngineTest.php:139-175) as a real
    ``spark.read.text`` operator.

    Semantics (reference-exact): one row per non-empty line with
    (doc_id, chapter, text, line); ``chapter`` is the group of the most
    recent preceding header line matching ``chapter_regex`` ('unknown'
    before the first header); header lines and blank lines are dropped but
    still count for ``line`` numbering; doc_id is 1..N over kept lines in
    file order.

    Scale design: chapter forward-fill and line numbering are classic
    running-state problems; a global orderBy window would funnel through
    one task. Instead: per-partition state via windows PARTITIONED by the
    input split (text splits and rows within them preserve file order, and
    ``monotonically_increasing_id`` is ordered within+across splits), then
    a tiny per-partition summary (#lines, last header) is collected,
    prefix-scanned on the driver (O(#splits)), and broadcast back as each
    partition's carry-in. No shuffle of the line data at all."""
    lines = (
        spark.read.text(path)
        .select(
            F.col("value").alias("raw"),
            F.spark_partition_id().alias("_part"),
            F.monotonically_increasing_id().alias("_mid"),
        )
    )
    header = F.regexp_extract(F.trim("raw"), chapter_regex, 1)
    lines = lines.withColumn("_hdr", F.when(header != "", header))
    w = Window.partitionBy("_part").orderBy("_mid")
    lines = (
        lines.withColumn("_lineno_local", F.row_number().over(w))
        .withColumn(
            "_chapter_local",
            F.last("_hdr", ignorenulls=True).over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .cache()
    )
    # tiny summaries: one row per input split — total line count (for the
    # line-number prefix sum) and last header (for the chapter carry chain)
    summary = lines.groupBy("_part").agg(F.count("*").alias("_n")).collect()
    hdr_summary = {
        r["_part"]: r["_h"]
        for r in lines.where(F.col("_hdr").isNotNull())
        .groupBy("_part")
        .agg(F.max(F.struct("_mid", "_hdr")).alias("_m"))
        .select("_part", F.col("_m")["_hdr"].alias("_h"))
        .collect()
    }
    line_off: dict[int, int] = {}
    carry: dict[int, str] = {}
    running_off = 0
    running_chapter = "unknown"
    for row in sorted(summary, key=lambda r: r["_part"]):
        line_off[row["_part"]] = running_off
        running_off += row["_n"]
        carry[row["_part"]] = running_chapter
        if row["_part"] in hdr_summary:
            running_chapter = hdr_summary[row["_part"]]

    off_df = local_frame(
        spark,
        [(p, line_off[p], carry[p]) for p in line_off],
        "_part int, _off long, _carry string",
    )
    kept = (
        lines.join(F.broadcast(off_df), "_part")
        .withColumn("line", (F.col("_off") + F.col("_lineno_local")).cast("long"))
        .withColumn("chapter", F.coalesce("_chapter_local", "_carry"))
        .withColumn("text", F.trim("raw"))
        .where((F.col("text") != "") & F.col("_hdr").isNull())
    )
    # doc_id: dense 1..N over kept lines in file order — same two-phase
    # trick keyed by split, so no global window
    kw = Window.partitionBy("_part").orderBy("_mid")
    kept = kept.withColumn("_krn", F.row_number().over(kw))
    kept_counts = {
        r["_part"]: r["n"]
        for r in kept.groupBy("_part").agg(F.count("*").alias("n")).collect()
    }
    koff = {}
    run = 0
    for p in sorted(line_off):
        koff[p] = run
        run += kept_counts.get(p, 0)
    koff_df = local_frame(spark, [(p, koff[p]) for p in koff], "_part int, _koff long")
    return (
        kept.join(F.broadcast(koff_df), "_part")
        .withColumn("doc_id", (F.col("_koff") + F.col("_krn")).cast("long"))
        .select("doc_id", "chapter", "text", "line")
    )
