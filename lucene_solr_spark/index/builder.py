"""Inverted-index build: DataFrame of documents -> postings + docs + stats.

The Spark-first re-expression of Lucene's indexing chain
(IndexWriter.addDocument -> DefaultIndexingChain.processField ->
FreqProxTermsWriter flush; lucene/core/src/java/org/apache/lucene/index/
IndexWriter.java:1212, DefaultIndexingChain.java:386-850,
FreqProxTermsWriterPerField.java:110-180):

    tokens   = analyze(text)                      # codegen or pandas UDF
    postings = posexplode(tokens)
               .groupBy(term, docid)              # partial agg per partition
               .agg(count -> tf, sort(collect pos))
    docs     = (docid, dl, qdl, norm_byte)        # norms: SmallFloat int4
    stats    = postings.groupBy(term).agg(df,ttf) # TermStats
               docs.agg(count, sum(dl))           # CollectionStatistics

Scale notes (100 TB / 10^12 docs):
- the invert is one wide shuffle keyed by (term, docid) with map-side
  partial aggregation — the same work Lucene's DWPT does per thread;
- term_stats is a second, far smaller shuffle keyed by term;
- doc-level stats reduce to 2 numbers (collected once, like Lucene's
  createWeight freezing CollectionStatistics);
- everything stays in whole-stage codegen when analyzer='simple';
- hot (stopword-like) terms produce big posting rows only in the packed
  segment layout (index/segments.py), which salts them into bounded
  128-doc blocks; the exploded layout here is skew-neutral because rows
  are (term, docid) grained.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..analysis.analyzers import (english_analyze_udf, lang_analyze_udf,
                                  simple_tokens_col, standard_tokenize_udf)
from ..codecs.smallfloat import norm_byte_sql, qdl_sql


@dataclass
class InvertedIndex:
    """Point-in-time queryable index (cf. IndexReader over a commit)."""

    docs: DataFrame       # docid, dl, qdl, norm_byte
    postings: DataFrame   # term, docid, tf, positions(array<int>)
    term_stats: DataFrame  # term, df, ttf
    doc_count: int
    sum_ttf: int
    source: DataFrame     # original rows + docid (stored-fields analogue)
    docid_col: str = "docid"
    _cached: bool = field(default=False)

    @property
    def avgdl(self) -> float:
        return self.sum_ttf / float(self.doc_count)

    @property
    def avgdl_sql(self) -> str:
        """Exact-integer literals -> identical double in engine and oracle."""
        return f"(CAST({self.sum_ttf} AS DOUBLE) / {self.doc_count})"

    def unpersist(self) -> None:
        if self._cached:
            for df in (self.docs, self.postings, self.term_stats):
                df.unpersist()
            self._cached = False


def build_index(
    df: DataFrame,
    text_col: str = "text",
    docid_col: str = "doc_id",
    analyzer: str = "simple",
    cache: bool = True,
) -> InvertedIndex:
    """Build the naive (exploded) postings index from a document DataFrame.

    ``docid_col`` must already be a dense, stable long (for transcripts use
    index.docids.assign_docids first — docID identity is part of the
    rank-identity contract, SURVEY.md §1.4.5).
    """
    if analyzer == "simple":
        tokens = df.select(
            F.col(docid_col).cast("long").alias("docid"),
            simple_tokens_col(text_col).alias("tokens"),
        )
    else:
        if analyzer == "standard":
            tok = standard_tokenize_udf()
        elif analyzer == "english":
            tok = english_analyze_udf()
        else:
            # a language analyzer (analysis/chains.CHAINS, cjk or ja);
            # an unknown name raises ValueError
            tok = lang_analyze_udf(analyzer)
        tokens = df.select(
            F.col(docid_col).cast("long").alias("docid"),
            tok(F.col(text_col)).alias("ts"),
        ).select("docid", F.col("ts.terms").alias("tokens"),
                 F.col("ts.positions").alias("positions"))

    docs = tokens.select(
        "docid",
        F.size("tokens").cast("long").alias("dl"),
    ).withColumn("qdl", F.expr(qdl_sql("dl")).cast("long")) \
     .withColumn("norm_byte", F.expr(norm_byte_sql("dl")).cast("int"))

    if analyzer == "simple":
        exploded = tokens.select(
            "docid", F.posexplode("tokens").alias("pos", "term"))
    else:
        exploded = tokens.select(
            "docid",
            F.explode(F.arrays_zip(
                F.col("tokens").alias("term"),
                F.col("positions").alias("pos"))).alias("tp"),
        ).select("docid", F.col("tp.term").alias("term"),
                 F.col("tp.pos").alias("pos"))

    postings = (
        exploded.groupBy("term", "docid")
        .agg(F.count("*").cast("long").alias("tf"),
             F.sort_array(F.collect_list("pos")).alias("positions"))
    )

    term_stats = postings.groupBy("term").agg(
        F.count("*").cast("long").alias("df"),
        F.sum("tf").cast("long").alias("ttf"),
    )

    if cache:
        docs = docs.persist()
        postings = postings.persist()
        term_stats = term_stats.persist()

    n, sum_ttf = docs.agg(
        F.count("*"), F.coalesce(F.sum("dl"), F.lit(0))).first()

    source = df.withColumn("docid", F.col(docid_col).cast("long"))
    return InvertedIndex(
        docs=docs, postings=postings, term_stats=term_stats,
        doc_count=int(n), sum_ttf=int(sum_ttf), source=source,
        _cached=cache,
    )
