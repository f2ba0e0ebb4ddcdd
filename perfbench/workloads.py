"""The benchmark's workloads. Each is a closed loop: one client, and the next
iteration starts when the previous one has returned and been recorded.

A workload prepares its seeded input, runs one timed iteration through the
package's public functions, checks an iteration's output outside the timed
region, and — in a traced run — makes the extra per-layer calls that split
its time. Spans carry the name of the package module they call into.
"""

from __future__ import annotations

import shutil
import statistics
import time
from pathlib import Path
from random import Random

import inputs
from tools.check_parity import compare  # the repo's Spark-vs-DuckDB result comparison
from tracing import plan_nodes
from univer_ocr_spark.generator.goldens import GOLDEN_DIGEST_COLS

KINDS = ("html", "pdfish", "markup")
KERNEL_SAMPLE = 600  # payloads per in-process kernel sample


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def kernel_metrics(payloads: list[str]) -> dict:
    """Per-archetype kernel seconds (median of 3) and rows/bytes/spans/chars
    for an in-process sample, plus the batch dispatcher's own time."""
    from univer_ocr_spark.extract import extract_payloads_batch, sniff
    from univer_ocr_spark.extract.html_extract import extract_html
    from univer_ocr_spark.extract.markup_extract import extract_markup
    from univer_ocr_spark.extract.pdfish_batch import extract_pdfish_many

    by_kind = {k: [] for k in KINDS}
    for p in payloads:
        kind = sniff(p)
        by_kind["markup" if kind == "toolmarkup" else kind].append(p)
    run = {
        "html": lambda ps: [extract_html(p) for p in ps],
        "pdfish": extract_pdfish_many,
        "markup": lambda ps: [extract_markup(p) for p in ps],
    }
    m = {}
    kernel_total = 0.0
    for kind in KINDS:
        ps = by_kind[kind]
        reps = [timed(lambda: run[kind](ps)) for _ in range(3)] if ps else [(0.0, [])]
        secs = statistics.median(r[0] for r in reps)
        out = reps[0][1]
        kernel_total += secs
        m[f"extract.{kind}.kernel_s"] = secs
        m[f"extract.{kind}.rows"] = len(ps)
        m[f"extract.{kind}.payload_bytes"] = sum(len(p.encode()) for p in ps)
        m[f"extract.{kind}.spans"] = sum(len(s) for _t, s in out)
        m[f"extract.{kind}.out_chars"] = sum(len(t) for t, _s in out)
    batch = statistics.median(timed(lambda: extract_payloads_batch(payloads))[0] for _ in range(3))
    m["extract.batch.dispatch_s"] = batch - kernel_total
    m["extract.kernel_per_row_s"] = kernel_total / max(1, len(payloads))
    return m


def fingerprint_df(df):
    """One-row (row count, order-insensitive hash of every column) of
    ``df``: computing it materializes every output column."""
    from pyspark.sql import functions as F

    return df.agg(F.count(F.lit(1)).alias("n"),
                  F.sum(F.pmod(F.xxhash64(*df.columns), F.lit(2**31 - 1))).alias("h"))


def materialize(df, obs_name: str) -> int:
    """Run ``df`` to a noop sink (every column computed, nothing kept) and
    return its row count, observed during the same job."""
    from pyspark.sql import Observation, functions as F

    obs = Observation(obs_name)
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
    return obs.get["n"]


class Workload:
    name = ""
    rows = 0  # input rows (turns or docs) of one iteration
    layers_ok = True  # outputs of the traced per-layer calls passed their checks

    def __init__(self, spark, seed: int, cores: int, work: Path):
        self.spark, self.seed, self.cores, self.work = spark, seed, cores, work

    def prepare(self) -> dict:
        raise NotImplementedError

    def iteration(self, tracer):
        raise NotImplementedError

    def check(self, result) -> bool:
        raise NotImplementedError

    def check_run(self, tracer) -> bool:
        """Extra once-per-run output check (outside the timed loop)."""
        return True

    def layers(self, tracer, wall_traced: float) -> dict:
        """Traced per-layer calls; returns per-layer metrics."""
        return {}


class TranscriptsExtract(Workload):
    """``conv_stats(run_extraction(df, drop_payload=True))`` reduced to sums
    of turns, chars and spans over a seeded transcript table."""

    name = "transcripts_extract"
    N_CONVS = 700
    N_BUCKETS, FAIL_AFTER = 16, 8

    def prepare(self) -> dict:
        self.dir = inputs.transcripts(self.spark, self.seed, self.N_CONVS, self.cores)
        self.meta = inputs.meta(self.dir)
        self.rows = self.meta["turns"]
        self.expected = (self.meta["turns"], self.meta["chars"], self.meta["spans"])
        return {k: self.meta[k] for k in ("n_convs", "mega_conv_size", "turns", "input_bytes")}

    def _df(self):
        return self.spark.read.parquet(str(self.dir / "input"))

    def _iteration_df(self):
        from pyspark.sql import functions as F

        from univer_ocr_spark.spark.pipeline import conv_stats, run_extraction

        return conv_stats(run_extraction(self._df(), drop_payload=True)).agg(
            F.sum("n_turns").alias("turns"), F.sum("total_chars").alias("chars"),
            F.sum("total_spans").alias("spans"))

    def iteration(self, tracer):
        with tracer.span("pipeline.iteration", group="pipeline"):
            self.last_df = self._iteration_df()
            row = self.last_df.collect()[0]
        return (row["turns"], row["chars"], row["spans"])

    def check(self, result) -> bool:
        return tuple(result) == self.expected

    def _digest_mismatches(self, out) -> int:
        """Turns whose extraction digest differs from (or is missing in) the
        golden digests."""
        from pyspark.sql import functions as F

        got = out.select("conv_id", "turn_idx", "kind",
                         *inputs.span_digest_cols("extracted_text", "spans"))
        gold = self.spark.read.parquet(str(self.dir / "golden"))
        j = got.alias("g").join(gold.alias("e"), ["conv_id", "turn_idx"], "full_outer")
        same = [F.col(f"g.{c}").eqNullSafe(F.col(f"e.{c}")) for c in GOLDEN_DIGEST_COLS[2:]]
        ok = same[0]
        for s in same[1:]:
            ok = ok & s
        return j.filter(~ok).count()

    def check_run(self, tracer) -> bool:
        from univer_ocr_spark.spark.pipeline import run_extraction

        with tracer.span("check.per_turn_digests", group="check"):
            return self._digest_mismatches(run_extraction(self._df(), drop_payload=True)) == 0

    def layers(self, tracer, wall_traced: float) -> dict:
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from univer_ocr_spark.spark.pipeline import run_extraction

        m = {}
        m["pipeline.python_nodes"], m["pipeline.exchanges"] = plan_nodes(self.last_df)
        texts = pq.read_table(self.dir / "input", columns=["text"]).column("text").to_pylist()
        sample = Random(self.seed).sample(texts, min(KERNEL_SAMPLE, len(texts)))
        with tracer.span("extract.kernel_sample"):
            km = kernel_metrics(sample)
        m.update(km)

        def scan():
            with tracer.span("pipeline.scan", group="pipeline"):
                self._df().agg(F.sum(F.length("text"))).collect()

        def extraction():
            with tracer.span("pipeline.run_extraction", group="pipeline"):
                run_extraction(self._df(), drop_payload=True).agg(
                    F.count(F.lit(1)), F.sum("n_chars"), F.sum("n_spans")).collect()

        m["pipeline.scan_s"] = statistics.median(timed(scan)[0] for _ in range(3))
        m["pipeline.run_extraction_s"] = statistics.median(timed(extraction)[0] for _ in range(3))
        m["pipeline.conv_stats_s"] = wall_traced - m["pipeline.run_extraction_s"]
        # kernel CPU for the whole input, spread over the cores
        m["pipeline.kernel_s"] = km["extract.kernel_per_row_s"] * self.rows / self.cores
        m["pipeline.crossing_s"] = (m["pipeline.run_extraction_s"] - m["pipeline.scan_s"]
                                    - m["pipeline.kernel_s"])
        m.update(self._manifest_layer(tracer))
        return m

    def _manifest_layer(self, tracer) -> dict:
        """The production path over the same input: bucketize, a run that
        crashes by design after FAIL_AFTER bucket commits, the resume scan,
        and the resuming run."""
        from univer_ocr_spark import EXTRACTION_VERSION
        from univer_ocr_spark.spark import manifest

        wd = self.work / "manifest"
        shutil.rmtree(wd, ignore_errors=True)
        snap = f"seed-{self.seed}"
        df = self._df()
        m = {}
        with tracer.span("manifest.bucketize", group="manifest"):
            m["manifest.bucketize_s"] = timed(lambda: manifest.bucketize(
                self.spark, df, str(wd / "staged"), self.N_BUCKETS, snap))[0]

        def crashing_run():
            try:
                manifest.run_with_manifest(self.spark, df, str(wd), n_buckets=self.N_BUCKETS,
                                           input_snapshot=snap, fail_after=self.FAIL_AFTER)
            except RuntimeError:
                return  # the injected crash
            raise RuntimeError("run_with_manifest did not crash at fail_after")

        with tracer.span("manifest.buckets", group="manifest"):
            m["manifest.buckets_s"] = timed(crashing_run)[0]
        with tracer.span("manifest.committed_buckets", group="manifest"):
            secs, done = timed(lambda: manifest.committed_buckets(
                self.spark, str(wd / "manifest"), EXTRACTION_VERSION, snap))
        m["manifest.committed_buckets_s"] = secs
        with tracer.span("manifest.resume", group="manifest"):
            m["manifest.resume_s"], resumed = timed(lambda: manifest.run_with_manifest(
                self.spark, df, str(wd), n_buckets=self.N_BUCKETS, input_snapshot=snap))
        with tracer.span("check.manifest_output", group="check"):
            rows = manifest.read_manifest(self.spark, str(wd)).collect()
            out = manifest.read_output(self.spark, str(wd))
            self.layers_ok = (
                len(done) == self.FAIL_AFTER
                and sorted(done | set(resumed)) == list(range(self.N_BUCKETS))
                and sorted(r["bucket"] for r in rows) == list(range(self.N_BUCKETS))
                and sum(r["n_rows"] for r in rows) == self.rows
                and self._digest_mismatches(out) == 0
            )
        walls = sorted(r["wall_sec"] for r in rows)
        q = statistics.quantiles(walls, n=10, method="inclusive")
        m["manifest.bucket_wall_s.p50"] = statistics.median(walls)
        m["manifest.bucket_wall_s.p90"] = q[8]
        written = sum(inputs.dir_bytes(wd / d) for d in ("staged", "extracted", "manifest"))
        m["manifest.bytes_written_per_input_byte"] = written / self.meta["input_bytes"]
        return m


class DocsExtract(Workload):
    """``extract_pdfish_docs``, ``extract_pdfish_columns_docs`` and
    ``extract_html_docs`` over a seeded documents table with planted
    near-duplicate clones, each reduced to (row count, hash of every output
    column), so every column is computed; the queries' final sort is
    elided under the aggregate. Its traced run also measures the near-dup
    path over the same corpus."""

    name = "docs_extract"
    N_BASE, CLONE_SHARE = 500, 0.1
    QUERIES = ("pdfish", "pdfish_columns", "html")

    def prepare(self) -> dict:
        from univer_ocr_spark.ops import extract_docs

        self.dir = inputs.documents(self.seed, self.N_BASE, self.CLONE_SHARE)
        self.meta = inputs.meta(self.dir)
        self.rows = self.meta["docs"]
        # the same SQL __spark_entry__.oracle_sql() maps these queries to
        sql = {"pdfish": extract_docs.EXTRACT_PDFISH_DOCS_SQL,
               "pdfish_columns": extract_docs.EXTRACT_PDFISH_COLUMNS_SQL,
               "html": extract_docs.EXTRACT_HTML_DOCS_SQL}
        self.expected = {q: inputs.oracle(self.dir, q, sql[q]) for q in self.QUERIES}
        self.plans = {}
        return {k: self.meta[k] for k in ("docs", "clones", "clone_share")}

    def _query(self, q: str):
        from univer_ocr_spark.ops import extract_docs

        return getattr(extract_docs, f"extract_{q}_docs")(self.spark, str(self.dir))

    def iteration(self, tracer):
        out = {}
        for q in self.QUERIES:
            with tracer.span(f"extract_docs.{q}.build", group="extract_docs"):
                df = fingerprint_df(self._query(q))
                df._jdf.queryExecution().executedPlan()  # analysis + planning
            with tracer.span(f"extract_docs.{q}.exec", group="extract_docs"):
                out[q] = tuple(df.collect()[0])
            self.plans[q] = df
        return out

    def check(self, result) -> bool:
        if not hasattr(self, "want"):
            # the oracle rows under each query's own schema, fingerprinted
            # the same way (once per run, outside the timed loop)
            self.want = {}
            for q in self.QUERIES:
                schema = self._query(q).schema
                rows = self.expected[q][schema.fieldNames()].astype(object).values.tolist()
                self.want[q] = tuple(fingerprint_df(
                    self.spark.createDataFrame(rows, schema)).collect()[0])
        return all(result[q] == self.want[q] for q in self.QUERIES)

    def layers(self, tracer, wall_traced: float) -> dict:
        m = {}
        for q in self.QUERIES:
            for phase in ("build", "exec"):
                m[f"extract_docs.{q}.{phase}_s"] = statistics.median(
                    tracer.durations(f"extract_docs.{q}.{phase}"))
        nodes = [plan_nodes(df) for df in self.plans.values()]
        m["extract_docs.python_nodes"] = sum(n[0] for n in nodes)
        m["extract_docs.exchanges"] = sum(n[1] for n in nodes)
        import pyarrow.parquet as pq

        docs = pq.read_table(self.dir / "documents.parquet").to_pylist()
        sample = Random(self.seed).sample(docs, min(KERNEL_SAMPLE, len(docs)))
        with tracer.span("extract.kernel_sample"):
            m.update(kernel_metrics([_doc_payload(i, d) for i, d in enumerate(sample)]))
        dm, self.layers_ok = dedup_layer(self.spark, self.dir, self.meta, tracer)
        m.update(dm)
        return m


_HTML_HEAD = ('<html><head><title>doc</title><style>p{margin:0}</style></head><body>'
              '<nav><ul><li><a href="/home">home</a></li><li><a href="/about">about</a>'
              '</li></ul></nav><p>')
_HTML_TAIL = '</p><footer><a href="/tos">terms</a> (c) example</footer></body></html>'


def _doc_payload(i: int, doc: dict) -> str:
    """A payload in the docs_extract mix (one html doc for every two pdfish
    ones): the html query's page template, or the doc's words laid out as a
    shuffled line of pdfish glyphs."""
    text = doc["text"]
    if i % 3 == 2:
        return _HTML_HEAD + text + _HTML_TAIL
    recs, x = [], 40
    for w in text.split():
        for ch in w:
            recs.append(f"g {ch} {x} 300 8 10")
            x += 8
        x += 8
    Random(doc["doc_id"]).shuffle(recs)
    return "%PDFISH 612 792\n" + "\n".join(recs) + "\n"


def _shingles(text: str) -> set:
    """Word 2-gram shingles of the lower-cased, whitespace-split text (the
    shingle definition of ops.dedup)."""
    toks = text.lower().split()
    return {f"{a} {b}" for a, b in zip(toks, toks[1:])} if len(toks) >= 2 else {" ".join(toks)}


def _jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


PLANTED_MIN_JACCARD = 0.6  # LSH miss chance at this similarity is < 1e-8
VERIFY_THRESHOLD = 0.25  # ops.dedup.JACCARD_THRESHOLD


def clusters_ok(clusters, shingles: dict, planted: list) -> bool:
    """``neardup_clusters`` output checked by construction: one row per
    doc, each cluster keyed by its least member with exactly that member
    canonical, every planted clone in its source's cluster, and every
    clustered doc within the verify threshold of another member."""
    cid = dict(zip(clusters["doc_id"].tolist(), clusters["cluster_id"].tolist()))
    canon = dict(zip(clusters["doc_id"].tolist(), clusters["is_canonical"].tolist()))
    if len(clusters) != len(shingles) or set(cid) != set(shingles):
        return False
    members: dict[int, list] = {}
    for d, c in cid.items():
        members.setdefault(c, []).append(d)
    for c, ds in members.items():
        if min(ds) != c or any(canon[d] != (d == c) for d in ds):
            return False
        for d in ds if len(ds) > 1 else ():
            if max(_jaccard(shingles[d], shingles[o]) for o in ds if o != d) \
                    < VERIFY_THRESHOLD - 1e-4:
                return False
    return all(cid[c] == cid[s] for c, s in planted)


def dedup_layer(spark, docs_dir: Path, meta: dict, tracer) -> tuple[dict, bool]:
    """The near-dup path over the documents corpus: ``neardup_clusters`` and
    ``simhash_neardup_pairs`` (collected and checked), and the public calls
    nested inside the first (``minhash_signatures`` ⊂ ``minhash_lsh_pairs``
    ⊂ ``lsh_verified_pairs`` ⊂ ``neardup_clusters``), whose differences give
    each stage's self time. One untimed ``minhash_signatures`` call first
    warms the signature aggregate, the costliest code to compile."""
    import pyarrow.parquet as pq

    from univer_ocr_spark.ops import dedup

    d = str(docs_dir)
    docs = pq.read_table(docs_dir / "documents.parquet").to_pydict()
    shingles = dict(zip(docs["doc_id"], map(_shingles, docs["text"])))
    planted = [(int(c), s) for c, s in meta["clone_of"].items()
               if _jaccard(shingles[int(c)], shingles[s]) >= PLANTED_MIN_JACCARD]
    # the same SQL __spark_entry__.oracle_sql() maps this query to
    want_pairs = inputs.oracle(docs_dir, "simhash", dedup.simhash_neardup_pairs_sql())

    with tracer.span("dedup.warmup"):
        materialize(dedup.minhash_signatures(spark, d), "dedup_warmup")
    m, counts = {}, {}
    for name, fn in (("signatures", dedup.minhash_signatures),
                     ("lsh_pairs", dedup.minhash_lsh_pairs),
                     ("verified_pairs", dedup.lsh_verified_pairs)):
        with tracer.span(f"dedup.{name}", group="dedup"):
            m[f"dedup.{name}_s"], counts[name] = timed(
                lambda: materialize(fn(spark, d), f"dedup_{name}"))
        spark.catalog.clearCache()  # the queries leave persisted frames behind
    with tracer.span("dedup.neardup_clusters", group="dedup"):
        m["dedup.clusters_s"], clusters = timed(
            lambda: dedup.neardup_clusters(spark, d).toPandas())
    spark.catalog.clearCache()
    with tracer.span("dedup.simhash_neardup_pairs", group="dedup"):
        m["dedup.simhash_pairs_s"], pairs = timed(
            lambda: dedup.simhash_neardup_pairs(spark, d).toPandas())
    spark.catalog.clearCache()
    m["dedup.candidates_self_s"] = m["dedup.lsh_pairs_s"] - m["dedup.signatures_s"]
    m["dedup.verify_self_s"] = m["dedup.verified_pairs_s"] - m["dedup.lsh_pairs_s"]
    m["dedup.cc_self_s"] = m["dedup.clusters_s"] - m["dedup.verified_pairs_s"]
    m["dedup.candidate_pairs"] = counts["lsh_pairs"]
    m["dedup.verified_pairs"] = counts["verified_pairs"]
    m["dedup.clusters"] = int(clusters["is_canonical"].sum())
    m["dedup.simhash_pairs"] = len(pairs)
    # verified pairs per LSH candidate pair
    m["dedup.verify_yield"] = counts["verified_pairs"] / max(1, counts["lsh_pairs"])
    ok = not compare("simhash_neardup_pairs", pairs, want_pairs) \
        and clusters_ok(clusters, shingles, planted)
    return m, ok


WORKLOADS = {w.name: w for w in (TranscriptsExtract, DocsExtract)}
