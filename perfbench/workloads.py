"""The benchmark's workloads.

Each workload is a single closed-loop client: the driver thread issues
the next call into ``lucene_solr_spark`` only after the previous one has
returned. A run has three phases:

1. set-up: ``generate`` makes the inputs from the seed; ``prebuild``
   makes what the timed phase starts from (a store, warm analyzers). It
   runs ``REPEATS`` times into fresh directories and ``setup_s`` counts
   its median, so the JVM/worker warm-up that the first repeat pays is
   reported as ``warmup_s`` and no timed call pays it;
2. the timed loop, in whole rounds: a round is a fixed sequence of
   operations that covers each operation shape once, so every run
   reports medians over the same mix. Rounds repeat until the summed
   operation latency reaches the run length. Checks between operations
   (commit counters) are not timed;
3. ``verify``: output checks after the timed loop — ``check_index`` on
   the final store and a seeded sample of query results compared with
   the DuckDB oracle (``search/oracle.py``) on the same generated
   corpus. A mismatch counts against the operation that produced it.

Every input comes from ``numpy.random.default_rng(seed)`` or from the
package's seeded generator (``datagen.transcripts``).
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

import numpy as np

from lucene_solr_spark.search.oracle import OracleBuilder
from lucene_solr_spark.search.query import (Bool, DisMax, Phrase, Prefix,
                                            Term, rewrite)
from spans import MemorySampler, tree_cpu_s

K = 10
REPEATS = 3
SHAPES = ("term", "and2", "or3", "mix", "phrase", "sloppy", "dismax",
          "prefix")
BANDS = ("hot", "mid", "rare")
_TOKEN_RE = "'[A-Za-z0-9]+'"


def quantile(xs, q: float) -> float:
    """Linear-interpolated quantile of ``xs`` (0 <= q <= 1)."""
    s = sorted(xs)
    if not s:
        return 0.0
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail(xs) -> dict | None:
    """Latency at the highest of p99/p95/p90/p75/p50 that has at least
    ten samples beyond it; None when there are too few samples."""
    for p in (99, 95, 90, 75, 50):
        if len(xs) * (100 - p) / 100.0 >= 10:
            return {"percentile": p, "value": quantile(xs, p / 100.0),
                    "samples": len(xs)}
    return None


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class Workload:
    name = ""
    why = ""

    def __init__(self, spark, tracer, work: str, seed: int, seconds: float):
        import duckdb
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.rng = np.random.default_rng(seed)
        self.setup: dict = {}
        self.samples: dict[str, list] = {}
        self.cpu: dict[str, list] = {}
        self.units: dict[str, list] = {}
        self.inputs: dict = {}
        self.attrs: dict = {}
        self.checks: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.checked = False
        self.busy = 0.0
        self.peak_pss_bytes = 0
        self.con = duckdb.connect()
        self.con.execute("SET threads = 4")
        self.con.execute(f"SET temp_directory = '{work}/duckdb'")

    # -- phases -------------------------------------------------------------

    def execute(self) -> None:
        with self.tracer.paused():  # set-up has its own figures
            t0 = time.perf_counter()
            self.generate()
            self.setup["datagen_s"] = time.perf_counter() - t0
            reps = []
            for r in range(REPEATS):
                t0 = time.perf_counter()
                self.prebuild(r)
                reps.append(time.perf_counter() - t0)
        self.setup["prebuild_repeats_s"] = reps
        self.setup["prebuild_s"] = median(reps)
        self.setup["warmup_s"] = max(reps[0] - median(reps), 0.0)
        with MemorySampler() as mem:
            self.loop()
        self.peak_pss_bytes = mem.peak_bytes
        self.host = {"idle_share": mem.idle_share,
                     "steal_share": mem.steal_share}
        t0 = time.perf_counter()
        self.verify()
        self.verify_s = time.perf_counter() - t0
        self.checked = True
        self.con.close()

    def generate(self) -> None:
        raise NotImplementedError

    def prebuild(self, repeat: int) -> None:
        raise NotImplementedError

    def loop(self) -> None:
        raise NotImplementedError

    def verify(self) -> None:
        raise NotImplementedError

    # -- helpers ------------------------------------------------------------

    def timed(self, kind: str, layer: str, fn, units: float = 0.0,
              **attrs):
        """One closed-loop operation: time it, count it, trace it.
        Returns ``(ok, result)``; an exception counts as a failed op."""
        self.attempted += 1
        rec = self.tracer.begin(layer, **attrs)
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # noqa: BLE001 - a failed op is a result
            dt = time.perf_counter() - t0
            self.tracer.unwind(rec)
            self.busy += dt
            self.failed += 1
            self.checks.append({"what": kind, "ok": False,
                                "detail": f"{type(e).__name__}: {e}"})
            return False, None
        dt = time.perf_counter() - t0
        self.cpu.setdefault(kind, []).append(tree_cpu_s() - c0)
        self.tracer.unwind(rec)
        self.busy += dt
        self.samples.setdefault(kind, []).append(dt)
        if units:
            self.units.setdefault(kind, []).append(units / dt)
        return True, (out, rec)

    def check(self, what: str, ok: bool, detail=None) -> None:
        self.checks.append({"what": what, "ok": bool(ok), "detail": detail})
        if not ok:
            self.failed += 1

    def done(self) -> bool:
        return self.busy >= self.seconds

    # -- report -------------------------------------------------------------

    WRITE = QUERY = ""

    def end_to_end(self) -> dict:
        """The metrics every workload reports (see BENCHMARK.json)."""
        return {
            "setup_s": (self.setup["session_s"] + self.setup["datagen_s"]
                        + self.setup["prebuild_s"], "s"),
            "write_units_per_s": (median(self.units.get(self.WRITE, [])),
                                  "1/s"),
            "query_p50_s": (median(self.samples.get(self.QUERY, [])), "s"),
            "peak_pss_mb": (self.peak_pss_bytes / 2.0 ** 20, "MB"),
        }

    def named(self) -> dict:
        """Workload-specific figures, named after the operation they
        time, for the run record."""
        return {}

    def record(self) -> dict:
        lat = {k: {"samples": len(v), "all": v, "p50": median(v),
                   "q1": quantile(v, 0.25), "q3": quantile(v, 0.75),
                   "tail": tail(v), "cpu_p50": median(self.cpu[k])}
               for k, v in self.samples.items()}
        return {
            "why": self.why,
            "inputs": self.inputs,
            "setup": self.setup,
            "latency_s": lat,
            "timed_s": self.busy,
            "verify_s": self.verify_s,
            "host_cpu": self.host,
            "end_to_end": {k: v for k, (v, _) in self.end_to_end().items()},
            "named": self.named(),
            "failed_ops_ratio": self.failed / max(self.attempted, 1),
            "attrs": self.attrs,
            "checks": self.checks,
        }


# ---------------------------------------------------------------------------
# update: appends beside fresh-reader queries, deletes and merges
# ---------------------------------------------------------------------------

class Update(Workload):
    name = "update"
    why = ("small append_raw commits beside fresh-reader BM25 queries of 8 "
           "shapes over hot/mid/rare terms, with periodic delete_by_query "
           "and maybe_merge")
    WRITE, QUERY = "append", "query"

    SEED_TURNS = 3000       # the store the timed loop starts from
    BATCH_TURNS = 1000      # one small commit
    MAX_BATCHES = 8         # four rounds
    # a floor above every segment's size keeps the budget at two
    # segments, so each append past the second merges two segments
    MERGE = {"segs_per_tier": 2, "max_merge_at_once": 2,
             "floor_bytes": 1 << 30}
    ORACLE_SAMPLES = 2

    def generate(self) -> None:
        """Transcripts from the package's generator, cut into the seed
        part and equal-sized batches in (conv_id, turn_idx) order, which
        is also the order ``append_raw`` gives docids in."""
        from lucene_solr_spark.datagen.transcripts import gen_transcripts
        n = self.SEED_TURNS + self.MAX_BATCHES * self.BATCH_TURNS
        raw = f"{self.work}/generated"
        gen_transcripts(self.spark, n // 20 + 100, seed=self.seed) \
            .select("conv_id", "turn_idx", "text").write.parquet(raw)
        con = self.con
        con.execute(f"""
            CREATE TABLE corpus AS
            SELECT *, CASE WHEN doc_id < {self.SEED_TURNS} THEN -1
                      ELSE (doc_id - {self.SEED_TURNS}) // {self.BATCH_TURNS}
                      END AS batch,
                   len(regexp_extract_all(text, {_TOKEN_RE}, 0)) AS n_tok,
                   strlen(text) AS n_bytes
            FROM (SELECT row_number() OVER (ORDER BY conv_id, turn_idx) - 1
                             AS doc_id, conv_id, turn_idx, text
                  FROM read_parquet('{raw}/*.parquet'))
            WHERE doc_id < {n}""")
        self.src_path = f"{self.work}/transcripts.parquet"
        con.execute("COPY (SELECT conv_id, turn_idx, text, batch FROM corpus)"
                    f" TO '{self.src_path}' (FORMAT PARQUET)")
        self.src = self.spark.read.parquet(self.src_path)
        self.per_batch = {
            int(b): (int(t), int(k), int(y)) for b, t, k, y in con.execute(
                "SELECT batch, count(*), sum(n_tok), sum(n_bytes) "
                "FROM corpus GROUP BY batch").fetchall()}
        dfs = dict(con.execute(f"""
            SELECT term, count(*) FROM (
              SELECT DISTINCT doc_id, lower(unnest(
                regexp_extract_all(text, {_TOKEN_RE}, 0))) AS term
              FROM corpus WHERE batch < 0) GROUP BY term""").fetchall())
        bands = {"hot": [], "mid": [], "rare": []}
        for t in sorted(dfs, key=lambda t: (-dfs[t], t)):
            frac = dfs[t] / self.SEED_TURNS
            bands["hot" if frac > 0.3 else
                  "mid" if frac > 0.01 else "rare"].append(t)
        self.bands = bands
        seed_turns, seed_tokens, seed_bytes = self.per_batch[-1]
        self.inputs = {
            "seed_turns": seed_turns, "seed_tokens": seed_tokens,
            "seed_text_bytes": seed_bytes, "batch_turns": self.BATCH_TURNS,
            "distinct_terms": len(dfs),
            # share of turns the generator gives hot terms
            "hot_fraction": 0.3,
            "band_sizes": {b: len(v) for b, v in bands.items()},
        }
        self.sample_docs = [r[0] for r in con.execute(
            "SELECT text FROM corpus WHERE batch < 0 "
            f"ORDER BY hash(doc_id + {self.seed}) LIMIT 400").fetchall()]
        self.queries = [self._make_query(i) for i in range(400)]
        self.deletes = [Term(bands["rare"][int(j)]) for j in self.rng.integers(
            0, len(bands["rare"]), size=self.MAX_BATCHES)]

    def _make_query(self, i: int):
        shape, band = SHAPES[i % len(SHAPES)], BANDS[i % len(BANDS)]
        slots = iter(range(4 * i, 4 * i + 4))

        def pick(b: str) -> str:
            """A term at a fixed df-rank quantile of its band (plus a
            little seeded jitter), so that query cost hardly depends on
            the seed."""
            terms = self.bands[b]
            pos = next(slots) * 0.6180339887 % 1.0
            j = int(pos * len(terms)) + int(self.rng.integers(0, 3))
            return terms[min(j, len(terms) - 1)]
        a = pick(band)
        if shape == "term":
            q = Term(a)
        elif shape == "and2":
            q = Bool(must=(Term(a), Term(pick("hot"))))
        elif shape == "or3":
            q = Bool(should=(Term(a), Term(pick("mid")), Term(pick("rare"))))
        elif shape == "mix":
            q = Bool(must=(Term(a),), should=(Term(pick("mid")),),
                     must_not=(Term(pick("hot")),))
        elif shape in ("phrase", "sloppy"):
            q = self._phrase(band, 1 if shape == "phrase" else 2)
        elif shape == "dismax":
            q = DisMax((Term(a), Term(pick("mid"))))
        else:
            q = Prefix(a[:-1] if len(a) > 2 else a)
        return shape, band, q

    def _phrase(self, band: str, gap: int):
        """Terms ``gap`` apart in a seed document, the first in ``band``."""
        import re
        members = set(self.bands[band])
        for _ in range(1000):
            toks = re.findall("[a-z0-9]+", str(
                self.rng.choice(self.sample_docs)).lower())
            spots = [j for j in range(len(toks) - gap)
                     if toks[j] in members and toks[j] != toks[j + gap]]
            if spots:
                j = int(self.rng.choice(spots))
                return Phrase((toks[j], toks[j + gap]), slop=gap - 1)
        return Phrase((self.bands[band][0], self.bands["hot"][0]))

    def prebuild(self, repeat: int) -> None:
        from pyspark.sql import functions as F

        from lucene_solr_spark.index.writer import IndexWriter
        path = f"{self.work}/store-{repeat}"
        w = IndexWriter.create(self.spark, path)
        six = w.append_raw(self.src.filter(F.col("batch") == -1))
        turns, tokens, text_bytes = self.per_batch[-1]
        self.check("seed commit counts",
                   (six.doc_count, six.sum_ttf) == (turns, tokens),
                   [six.doc_count, six.sum_ttf])
        self.attrs["store_bytes_per_text_byte"] = \
            dir_bytes(path) / text_bytes
        self.writer = w
        self.expect = [turns, tokens]

    def loop(self) -> None:
        self.log = []            # (delete query, doc_count then)
        self.results = []        # (query index, doc_count, n_deletes, rows)
        self.qi = self.merges = 0
        for r in range(self.MAX_BATCHES // 2):
            # a round: two cycles of append, four queries (all eight
            # shapes per round) and a merge; the second also deletes
            for cycle in (0, 1):
                if not self.cycle(2 * r + cycle, delete=cycle == 1):
                    break
            if self.done():
                break
        six = self.writer.reader()
        self.attrs.update(merges=self.merges, deletes=len(self.log),
                          commits=six.generation,
                          live_segments=len(six.live_segs))
        self.inputs.update(final_turns=six.doc_count,
                           final_tokens=six.sum_ttf)

    def cycle(self, b: int, delete: bool) -> bool:
        from pyspark.sql import functions as F

        from lucene_solr_spark.search.segment_searcher import SegmentSearcher
        w = self.writer
        turns, tokens, text_bytes = self.per_batch[b]
        ok, res = self.timed(
            "append", "index.writer.append",
            lambda: w.append_raw(self.src.filter(F.col("batch") == b)),
            units=turns, turns=turns, text_bytes=text_bytes)
        if not ok:
            return False
        self.expect[0] += turns
        self.expect[1] += tokens
        six = res[0]
        self.check(f"commit {six.generation} counts",
                   [six.doc_count, six.sum_ttf] == self.expect,
                   [six.doc_count, six.sum_ttf])
        for _ in range(len(SHAPES) // 2):
            shape, band, q = self.queries[self.qi % len(self.queries)]

            def query(q=q):
                six = w.reader()
                return six.doc_count, SegmentSearcher(six).topk(
                    q, K).collect()
            ok, res = self.timed("query", "search.segment_searcher.topk",
                                 query, shape=shape, band=band)
            if ok:
                (n_docs, rows), rec = res
                self.results.append(
                    (self.qi, n_docs, len(self.log),
                     [(r["doc_id"], r["score"]) for r in rows]))
                if rec is not None:
                    self._count_candidates(SegmentSearcher(w.reader()),
                                           q, rec)
            self.qi += 1
        if delete:
            dq = self.deletes[len(self.log)]
            ok, res = self.timed("delete", "index.writer.delete",
                                 lambda: w.delete_by_query(dq))
            if ok:
                self.log.append((dq, res[0].doc_count))
                self.check(f"delete {res[0].generation} counts",
                           [res[0].doc_count, res[0].sum_ttf]
                           == self.expect)
        ok, res = self.timed("merge", "index.writer.merge",
                             lambda: w.maybe_merge(**self.MERGE))
        if ok:
            self.merges += res[0]
            if res[1] is not None:
                res[1]["merges"] = res[0]
            six = w.reader()
            self.check(f"merge {six.generation} counts",
                       [six.doc_count, six.sum_ttf] == self.expect)
        return True

    def _count_candidates(self, ss, q, rec) -> None:
        """Traced runs only: rows the pruned kernel emitted (untimed)."""
        with self.tracer.paused():
            rec["candidate_rows"] = ss.candidates(q, K).count()

    def verify(self) -> None:
        from lucene_solr_spark.index.segments import check_index
        bad = check_index(self.writer.reader()).limit(5).collect()
        self.check("check_index", not bad, [list(r) for r in bad])

        ob, con = OracleBuilder(), self.con
        picks = self.rng.permutation(len(self.results))[:self.ORACLE_SAMPLES]
        for i in sorted(int(p) for p in picks):
            qi, n_docs, n_del, rows = self.results[i]
            q = self.queries[qi % len(self.queries)][2]
            deleted = set()
            for dq, dn in self.log[:n_del]:
                con.execute("CREATE OR REPLACE VIEW documents AS SELECT "
                            f"doc_id, text FROM corpus WHERE doc_id < {dn}")
                deleted |= {int(d) for (d,) in con.execute(
                    f"WITH {ob.base_ctes()} SELECT docid FROM "
                    f"({ob.scored(rewrite(dq))}) s").fetchall()}
            con.execute("CREATE OR REPLACE VIEW documents AS SELECT doc_id, "
                        f"text FROM corpus WHERE doc_id < {n_docs}")
            want = [(int(d), float(s)) for d, s in con.execute(
                ob.topk_sql(q, K + len(deleted))).fetchall()
                if int(d) not in deleted][:K]
            got = [(int(d), float(s)) for d, s in rows]
            self.check(f"oracle query {qi}", got == want,
                       None if got == want else {"got": got, "want": want})

    def named(self) -> dict:
        s = self.samples
        return {"update_append_p50_s": median(s.get("append", [])),
                "update_delete_p50_s": median(s.get("delete", [])),
                "update_query_p50_s": median(s.get("query", [])),
                "ingest_turns_per_s": median(self.units.get("append", [])),
                "index_bytes_per_text_byte":
                    self.attrs.get("store_bytes_per_text_byte")}


# ---------------------------------------------------------------------------
# analyzed: language-analyzer index builds and exploded-index queries
# ---------------------------------------------------------------------------

LANGS = ("de", "fr", "ru", "fi", "ar")
# Zipf ranks of each language's two query terms
QUERY_RANKS = ((1, 8), (2, 20), (4, 50), (3, 11), (6, 27))


def _vocabulary(root: str, lang: str) -> list:
    """Surface words of ``lang`` from the committed analyzer fixtures."""
    fx = os.path.join(root, "tests", "fixtures")
    if lang == "ar":
        with open(os.path.join(fx, "lang2_golden.json")) as f:
            lines = json.load(f)["ar"]["lines"]
        return sorted({w for line in lines for w in line.split()})
    with open(os.path.join(fx, "lang_stems.json")) as f:
        return sorted(json.load(f)[lang])


def _analyze(lang: str, text: str) -> list:
    """Driver-side scalar analyzer chain, the oracle's token source."""
    if lang == "ar":
        from lucene_solr_spark.analysis.lang2 import lang2_analyze
        return lang2_analyze(lang, text)[0]
    from lucene_solr_spark.analysis.lang import lang_analyze
    return lang_analyze(lang, text)[0]


class Analyzed(Workload):
    name = "analyzed"
    why = ("build_index with de/fr/ru/fi/ar analyzers over Zipf samples of "
           "the fixture vocabularies, then Searcher.topk on the exploded "
           "index")
    WRITE, QUERY = "build", "query"

    DOCS_PER_LANG = 200
    DOC_TOKENS = (20, 120)
    ZIPF_S = 1.0
    ORACLE_SAMPLES = 2

    def generate(self) -> None:
        root = os.getcwd()
        self.texts, self.tokens_in, self.queries = {}, {}, {}
        for lang in LANGS:
            vocab = _vocabulary(root, lang)
            vocab = [vocab[i] for i in self.rng.permutation(len(vocab))]
            p = 1.0 / np.arange(1, len(vocab) + 1) ** self.ZIPF_S
            p /= p.sum()
            lens = self.rng.integers(*self.DOC_TOKENS,
                                     size=self.DOCS_PER_LANG)
            words = self.rng.choice(len(vocab), size=int(lens.sum()), p=p)
            texts, off = [], 0
            for n in lens:
                texts.append(" ".join(vocab[j] for j in words[off:off + n]))
                off += n
            self.texts[lang] = texts
            self.tokens_in[lang] = int(lens.sum())
            self.inputs[lang] = {
                "docs": len(texts), "tokens": int(lens.sum()),
                "distinct_surfaces": int(len(set(words.tolist()))),
                "text_bytes": sum(len(t.encode()) for t in texts)}
            # query terms: the analyzed forms of the words at fixed Zipf
            # ranks (stopwords skipped), so query cost hardly depends on
            # the seed although the words do
            stems = []
            for word in vocab:
                t = _analyze(lang, word)
                if t:
                    stems.append(t[0])
                if len(stems) > max(max(r) for r in QUERY_RANKS):
                    break
            self.queries[lang] = stems
        self.spark.createDataFrame(
            [(lang, i, t) for lang in LANGS
             for i, t in enumerate(self.texts[lang])],
            "lang STRING, doc_id LONG, text STRING") \
            .write.partitionBy("lang").parquet(f"{self.work}/docs")
        self.docs = {lang: self.spark.read.parquet(
            f"{self.work}/docs/lang={lang}") for lang in LANGS}

    def prebuild(self, repeat: int) -> None:
        """The timed round's plans once each: a full build through each
        analyzer module (the light stemmers of ``analysis.lang`` and
        ``analysis.lang2``) and every query shape."""
        from lucene_solr_spark.search.engine import Searcher
        for lang in ("de", "ar"):
            ix = self._build(lang)
            if lang == "de":
                for q in self._shapes(lang).values():
                    Searcher(ix).topk(q, K).collect()
            ix.unpersist()

    def _shapes(self, lang: str) -> dict:
        ra, rb = QUERY_RANKS[LANGS.index(lang)]
        a, b = self.queries[lang][ra], self.queries[lang][rb]
        return {"or2": Bool(should=(Term(a), Term(b))),
                "and2": Bool(must=(Term(a), Term(b)))}

    def _build(self, lang: str):
        from lucene_solr_spark.index.builder import build_index
        ix = build_index(self.docs[lang], docid_col="doc_id", analyzer=lang)
        # build_index persists lazily: materialize what queries read
        ix.postings.count()
        ix.term_stats.count()
        return ix

    def loop(self) -> None:
        from lucene_solr_spark.search.engine import Searcher
        self.results = []   # (lang, query, rows)
        rounds = 0
        while not self.done():
            # a round: every language once, each build then one query of
            # each shape; both shapes have two terms, because one-term
            # queries take half as long and a two-mode sample has an
            # unsteady median
            for lang in LANGS:
                ok, res = self.timed("build", "index.builder",
                                     lambda: self._build(lang),
                                     units=self.tokens_in[lang], lang=lang,
                                     tokens=self.tokens_in[lang])
                if not ok:
                    return
                ix = res[0]
                if self.tracer.enabled:
                    self._analysis_only(lang)
                for shape, q in self._shapes(lang).items():
                    ok, res = self.timed(
                        "query", "search.engine.topk",
                        lambda q=q: Searcher(ix).topk(q, K).collect(),
                        lang=lang, shape=shape)
                    if ok:
                        self.results.append(
                            (lang, q, [(r["doc_id"], r["score"])
                                       for r in res[0]]))
                ix.unpersist()
            rounds += 1
        self.attrs["rounds"] = rounds

    def _analysis_only(self, lang: str) -> None:
        """Traced runs only: the analyzer UDF alone over the same text."""
        from pyspark.sql import functions as F

        from lucene_solr_spark.analysis.analyzers import lang_analyze_udf
        with self.tracer.span("analysis", lang=lang):
            (self.docs[lang]
             .select(lang_analyze_udf(lang)(F.col("text")).alias("ts"))
             .agg(F.sum(F.size("ts.terms"))).collect())

    def verify(self) -> None:
        import pyarrow as pa
        picks = self.rng.permutation(len(self.results))[:self.ORACLE_SAMPLES]
        for i in sorted(int(p) for p in picks):
            lang, q, rows = self.results[i]
            tbl = pa.table({
                "doc_id": pa.array(range(len(self.texts[lang])), pa.int64()),
                "tokens": pa.array([_analyze(lang, t)
                                    for t in self.texts[lang]],
                                   pa.list_(pa.string()))})
            self.con.register("analyzed", tbl)
            want = [(int(d), float(s)) for d, s in self.con.execute(
                PreAnalyzed("analyzed").topk_sql(q, K)).fetchall()]
            got = [(int(d), float(s)) for d, s in rows]
            self.con.unregister("analyzed")
            self.check(f"oracle {lang} {q!r}", got == want,
                       None if got == want else {"got": got, "want": want})

    def named(self) -> dict:
        return {"analyzed_tokens_per_s": median(self.units.get("build", [])),
                "analyzed_query_p50_s": median(self.samples.get("query", []))}


class PreAnalyzed(OracleBuilder):
    """The oracle over a table of already-analyzed token lists: the
    ``toks`` CTE reads them instead of applying the ASCII tokenizer, so
    document statistics and BM25 stay the oracle's own SQL."""

    def base_ctes(self) -> str:
        ctes = super().base_ctes()
        cut = ctes.find("docs AS (")
        if cut < 0:
            raise RuntimeError("oracle CTE layout changed")
        return (f"toks AS (SELECT {self.id_col} AS docid, tokens "
                f"FROM {self.table}),\n" + ctes[cut:])


WORKLOADS = {"update": Update, "analyzed": Analyzed}


# ---------------------------------------------------------------------------
# tracing hooks
# ---------------------------------------------------------------------------

@contextmanager
def instrument(tracer):
    """While tracing, open spans around the package's layer entry points
    that the benchmark does not call itself: docid assignment and the
    segment build inside ``append_raw`` (the segment span runs from
    ``build_segments_direct`` to the end of its parquet write, which is
    where ``_publish`` begins), and the searcher's compile/candidates."""
    if not tracer.enabled:
        yield
        return
    from lucene_solr_spark.index import writer as wmod
    from lucene_solr_spark.search.segment_searcher import SegmentSearcher
    saved = [(wmod, "assign_docids", wmod.assign_docids),
             (wmod, "build_segments_direct", wmod.build_segments_direct),
             (wmod.IndexWriter, "_publish", wmod.IndexWriter._publish),
             (SegmentSearcher, "compile", SegmentSearcher.compile),
             (SegmentSearcher, "candidates", SegmentSearcher.candidates)]
    orig = {name: fn for _, name, fn in saved}
    pending = []

    def spanned(layer, fn):
        def wrapper(*a, **kw):
            with tracer.span(layer):
                return fn(*a, **kw)
        return wrapper

    def segments(*a, **kw):
        pending.append(tracer.begin("index.segments"))
        return orig["build_segments_direct"](*a, **kw)

    def publish(*a, **kw):
        while pending:
            tracer.unwind(pending.pop())
        return orig["_publish"](*a, **kw)

    wmod.assign_docids = spanned("index.docids", orig["assign_docids"])
    wmod.build_segments_direct = segments
    wmod.IndexWriter._publish = publish
    SegmentSearcher.compile = spanned("search.segment_searcher.compile",
                                      orig["compile"])
    SegmentSearcher.candidates = spanned(
        "search.segment_searcher.candidates", orig["candidates"])
    try:
        yield
    finally:
        for owner, name, fn in saved:
            setattr(owner, name, fn)
