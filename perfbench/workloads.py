"""The four benchmark workloads over seeded synthetic pages tables.

Each workload writes its input with ``sources.pages.synth_pages`` to
parquet, runs passes through the package's public entry points only, and
checks every pass against references it builds once per run. See
README.md in this directory for what each workload is for.
"""

from __future__ import annotations

import hashlib
import re
import shutil
from datetime import date, timedelta
from pathlib import Path

import duckdb
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from reviews_quality_check_spark.functions.quality import gopher_flags
from reviews_quality_check_spark.functions.readability import flesch_reading_ease_fast
from reviews_quality_check_spark.functions.text import norm_text
from reviews_quality_check_spark.operators.dedup import (
    connected_components,
    minhash_lsh_candidates,
    near_dup_pairs,
)
from reviews_quality_check_spark.operators.similarity_blocked import blocked_similar_pairs
from reviews_quality_check_spark.plans import checks as C
from reviews_quality_check_spark.plans.runner import SuiteRunner
from reviews_quality_check_spark.sources.pages import VALID_LANGS, synth_pages

# synth_pages spreads warc_ts over 7 days from this date: one partition a day
FIRST_DAY = date(2024, 3, 1)
DAYS = 7
PARTITIONS = [str(FIRST_DAY + timedelta(days=i)) for i in range(DAYS)]
# suite_commit_resume: the partial run stands in for a run killed after
# committing this many daily partitions
KILLED_AFTER = 4
BLOCK = 1000  # blocked_similar_pairs' default block size
VIOLATION_CAP = 10000  # SuiteRunner's default violation_cap_per_check
DEDUP_THRESHOLD = 0.7
DRIFT_CHECK = "drift_kl_lang"
POOL_TEXT = "shared duplicate page body number "  # synth_pages' exact-duplicate pool

# Per-layer metrics of a traced run, in report order. A layer that the
# workload's pass never calls reads 0.
LAYER_UNITS = {
    "session.start_s": "s",
    "sources.generate_s": "s",
    "sources.scan_s": "s",
    "functions.row_exprs_s": "s",
    "checks.unique_url_s": "s",
    "checks.unique_fp_s": "s",
    "checks.drift_s": "s",
    "runner.build_s": "s",
    "runner.build_jobs": "count",
    "runner.verdicts_s": "s",
    "runner.violations_s": "s",
    "runner.commit_s": "s",
    "runner.committed_partitions_s": "s",
    "runner.next_run_seq_s": "s",
    "runner.resume_s": "s",
    "runner.verdict_rows": "count",
    "runner.violation_rows": "count",
    "runner.resume_skipped_partitions": "count",
    "runner.resume_missing_verdicts": "count",
    "dedup.candidates_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.verify_s": "s",
    "dedup.verified_pairs": "count",
    "dedup.verify_yield": "ratio",
    "dedup.cc_call_s": "s",
    "dedup.cc_call_jobs": "count",
    "dedup.cc_exec_s": "s",
    "dedup.cc_edges": "count",
    "dedup.clusters": "count",
    "blocked.pairs_s": "s",
    "blocked.pairs_scored": "count",
    "blocked.pairs_kept": "count",
}


class CheckFailed(AssertionError):
    """A pass produced output that differs from its reference."""


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def materialize(df: DataFrame) -> None:
    df.write.mode("overwrite").format("noop").save()


def digest(df: DataFrame, cols: list[str]) -> tuple[int, int]:
    """Order-independent (row count, hash sum) of ``cols``."""
    row = df.agg(
        F.count(F.lit(1)),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")),
    ).collect()[0]
    return int(row[0]), int(row[1] or 0)


def partition_expr():
    return F.to_date("warc_ts").cast("string")


def pages_suite() -> C.Suite:
    """The 7-check flagship suite of the repository's bench.py."""
    gf = gopher_flags(F.col("text"))
    suite = C.Suite(name="pages_suite", row_key="url")
    suite.add(C.not_blank("text"))
    suite.add(C.in_set("lang", VALID_LANGS))
    suite.add(C.expression_floor("flesch_floor", flesch_reading_ease_fast("text"), 5.0))
    suite.add(
        C.predicate(
            "gopher_core",
            gf["mean_word_len_ok"] & gf["symbol_ratio_ok"]
            & gf["alpha_ratio_ok"] & gf["no_brace"] & gf["no_lorem"],
        )
    )
    suite.add(C.uniqueness("url"))
    suite.add(C.uniqueness("fp"))
    suite.add(C.max_drift("warc_ts", "lang", "1 day", threshold=5.0))
    return suite


def verdict_rows(df: DataFrame) -> set[tuple]:
    return {
        (r["partition_id"], r["check_name"], r["passed"], r["violation_count"],
         None if r["metric_value"] is None else round(r["metric_value"], 9))
        for r in df.collect()
    }


VIOLATION_COLS = ["partition_id", "check_name", "row_key", "detail"]
VIOLATION_SCHEMA = "partition_id string, check_name string, row_key string, detail string"
VERDICT_SCHEMA = ("partition_id string, check_name string, passed boolean, "
                  "violation_count long, metric_value double, threshold double")


class Workload:
    name = ""
    size = 0  # input pages of the workload
    warmups = 1  # untimed passes before measuring
    passes = 2  # measured passes, at least

    def __init__(self, spark: SparkSession, work: Path, seed: int, n_pages: int):
        self.work = work
        self.seed = seed
        self.n_pages = n_pages
        self.path = str(work / "pages")
        self.spark = spark

    def generate(self) -> None:
        synth_pages(self.spark, self.n_pages, seed=self.seed).write.mode("overwrite").parquet(self.path)

    def bind(self, spark: SparkSession) -> None:
        """(Re)read the input under ``spark``; called after generation and
        after a session restart."""
        self.spark = spark
        self.pages = spark.read.parquet(self.path)

    def prepare(self) -> None:
        """Build the references that passes are checked against."""

    def run_pass(self, tr):
        raise NotImplementedError

    def check(self, out) -> None:
        raise NotImplementedError

    def probes(self, tr) -> None:
        """Traced run only: single-layer calls outside the pass."""
        with tr.span("sources.scan"):
            materialize(self.spark.read.parquet(self.path))

    def layers(self, tr) -> dict[str, float]:
        """Per-layer values of the traced run, after its passes."""
        return {"sources.scan_s": tr.median("sources.scan")}


class _Suite(Workload):
    size = 100_000
    passes = 3

    def bind(self, spark):
        super().bind(spark)
        self.pages = self.pages.withColumn("fp", F.md5(norm_text(F.col("text"))))
        self.suite = pages_suite()

    def prepare(self):
        con = duckdb.connect(config={"threads": 2, "memory_limit": "1GB"})
        try:
            src = f"read_parquet('{self.path}/*.parquet')"
            langs = ", ".join(f"'{x}'" for x in VALID_LANGS)
            day = "strftime(make_timestamp(epoch_us(warc_ts)), '%Y-%m-%d')"
            per_row = con.execute(f"""
                SELECT {day} AS p,
                  sum(CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 1 ELSE 0 END),
                  sum(CASE WHEN lang IS NULL OR lang NOT IN ({langs}) THEN 1 ELSE 0 END)
                FROM {src} GROUP BY p""").fetchall()
            dup_url = dict(con.execute(f"""
                SELECT p, sum(n - 1) FROM (
                  SELECT {day} AS p, url, count(*) AS n FROM {src} GROUP BY p, url
                ) WHERE n >= 2 GROUP BY p""").fetchall())
        finally:
            con.close()
        self.oracle = {}
        for p, blank, bad_lang in per_row:
            self.oracle[(p, "not_blank_text")] = int(blank)
            self.oracle[(p, "in_set_lang")] = int(bad_lang)
            self.oracle[(p, "unique_url")] = int(dup_url.get(p, 0))
        expect(sorted({p for p, _ in self.oracle}) == PARTITIONS, "input partitions")

    def check_oracle(self, verdicts: set[tuple]) -> None:
        got = {(p, c): n for p, c, _, n, _ in verdicts if (p, c) in self.oracle}
        expect(got == self.oracle, "violation counts differ from the DuckDB counts")

    def probes(self, tr):
        super().probes(tr)
        suite, part = self.suite, partition_expr()
        row_exprs = [rc.violation.alias(f"v{i}") for i, rc in enumerate(suite.row_checks)]
        with tr.span("functions.row_exprs"):
            materialize(self.pages.select(*row_exprs, F.col("fp")))
        narrow = self.pages.select(part.alias("__part"), "url", "fp", "warc_ts", "lang")
        for ac, span in zip(suite.agg_checks, ("checks.unique_url", "checks.unique_fp", "checks.drift")):
            with tr.span(span):
                materialize(ac.plan(narrow, "__part"))

    def layers(self, tr):
        out = super().layers(tr)
        for k in ("functions.row_exprs", "checks.unique_url", "checks.unique_fp", "checks.drift"):
            out[k + "_s"] = tr.median(k)
        out["runner.verdict_rows"] = len(self.ref_verdicts)
        out["runner.violation_rows"] = self.ref_violations[0]
        return out


class SuiteValidate(_Suite):
    name = "suite_validate"
    ref_verdicts = None  # set by the first checked pass

    def run_pass(self, tr):
        with tr.span("runner.build"):
            res = SuiteRunner(self.suite).run(self.pages, partition_expr(), resume=False)
        with tr.span("runner.verdicts"):
            materialize(res.verdicts)
        with tr.span("runner.violations"):
            materialize(res.violations)
        return res

    def check(self, res):
        # the runner keeps this pass's projection cached, so these re-reads are cheap
        verdicts = verdict_rows(res.verdicts)
        violations = digest(res.violations, VIOLATION_COLS)
        self.check_oracle(verdicts)
        if self.ref_verdicts is None:
            self.ref_verdicts, self.ref_violations = verdicts, violations
        expect(verdicts == self.ref_verdicts, "verdicts differ across passes")
        expect(violations == self.ref_violations, "violations differ across passes")

    def layers(self, tr):
        out = super().layers(tr)
        for k in ("runner.build", "runner.verdicts", "runner.violations"):
            out[k + "_s"] = tr.median(k)
        return out


class SuiteCommitResume(_Suite):
    name = "suite_commit_resume"
    warmups = 0  # the one-shot reference run warms the suite; the first pass warms the writes
    passes = 3

    def __init__(self, *a):
        super().__init__(*a)
        self.n_out = 0

    def out_dir(self) -> str:
        self.n_out += 1
        return str(self.work / f"out{self.n_out}")

    def committed(self, out_dir: str) -> tuple[set[tuple], tuple[int, int]]:
        # explicit schemas: partition discovery would read the partition_id
        # directories back as timestamps
        read = self.spark.read.schema
        return (verdict_rows(read(VERDICT_SCHEMA).parquet(f"{out_dir}/verdicts")),
                digest(read(VIOLATION_SCHEMA).parquet(f"{out_dir}/violations"), VIOLATION_COLS))

    def partial(self, runner: SuiteRunner) -> None:
        killed = self.pages.filter(F.col("warc_ts") < F.lit(PARTITIONS[KILLED_AFTER]).cast("timestamp"))
        runner.run(killed, partition_expr(), resume=False)

    def prepare(self):
        super().prepare()
        # the one-shot reference runs without out_dir, so the resumed outputs
        # are also checked against a path that never wrote or read parquet;
        # the two agree while no check has more violation rows per partition
        # than the commit's cap
        res = SuiteRunner(self.suite).run(self.pages, partition_expr(), resume=False)
        self.ref_verdicts = verdict_rows(res.verdicts)
        self.ref_violations = digest(res.violations, VIOLATION_COLS)
        self.check_oracle(self.ref_verdicts)
        expect(max(n for *_, n, _ in self.ref_verdicts) <= VIOLATION_CAP,
               "a check exceeds the committed violation cap")

    def run_pass(self, tr):
        runner = SuiteRunner(self.suite, out_dir=self.out_dir())
        with tr.span("runner.commit"):
            self.partial(runner)
        with tr.span("runner.resume"):
            res = runner.run(self.pages, partition_expr(), resume=True)
        return runner, res

    def check(self, out):
        runner, res = out
        try:
            verdicts, violations = self.committed(runner.out_dir)
            expect(res.partitions_skipped == KILLED_AFTER, "resume skipped partitions")
            expect(sorted(runner.committed_partitions(self.spark)) == PARTITIONS,
                   "committed lineage after resume")
            expect(violations == self.ref_violations, "resumed violations differ from one-shot")
            expect(not verdicts - self.ref_verdicts, "resumed run has verdicts the one-shot lacks")
            # Known gap: resume filters the input to uncommitted partitions,
            # so the drift check loses the window before the first resumed
            # one. Counted, not failed; any other difference fails.
            missing = self.ref_verdicts - verdicts
            # (drift verdicts carry the window start timestamp as partition_id)
            expect(all(p.startswith(PARTITIONS[KILLED_AFTER]) and c == DRIFT_CHECK
                       for p, c, *_ in missing), f"resumed run misses verdicts {sorted(missing)}")
            self.missing_verdicts = len(missing)
        finally:
            shutil.rmtree(runner.out_dir, ignore_errors=True)

    def probes(self, tr):
        super().probes(tr)
        runner = SuiteRunner(self.suite, out_dir=self.out_dir())
        self.partial(runner)
        with tr.span("runner.committed_partitions"):
            runner.committed_partitions(self.spark)
        with tr.span("runner.next_run_seq"):
            runner.next_run_seq(self.spark)
        shutil.rmtree(runner.out_dir)

    def layers(self, tr):
        out = super().layers(tr)
        for k in ("runner.commit", "runner.committed_partitions", "runner.next_run_seq",
                  "runner.resume"):
            out[k + "_s"] = tr.median(k)
        out["runner.resume_skipped_partitions"] = KILLED_AFTER
        out["runner.resume_missing_verdicts"] = self.missing_verdicts
        return out


def union_find(pairs) -> dict[int, int]:
    """node -> smallest node of its component, in plain Python."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


# Plain-Python twins of the text normalization blocked_similar_pairs
# documents: Java's \s is ASCII whitespace and Spark's trim strips spaces.
_WS = "[ \t\n\x0b\f\r]"


def _words(text: str) -> list[str]:
    nt = re.sub(_WS + "+", " ", text.lower().strip(" "))
    return [] if nt == "" else nt.split(" ")


def _exact_key(text: str) -> str:
    stripped = re.sub(_WS + "+$", "", re.sub("^" + _WS + "+", "", text.lower()))
    return hashlib.md5(stripped.encode("utf-8")).hexdigest()


def _ngrams(words: list[str], n: int = 3) -> set[str]:
    """Every word, the char n-grams of each word and the word n-grams."""
    out = set(words)
    for w in words:
        out.update(w[i:i + n] for i in range(len(w) - n + 1))
    out.update(" ".join(words[i:i + n]) for i in range(len(words) - n + 1))
    return out


def block_pairs_py(rows, threshold: float = DEDUP_THRESHOLD) -> list[tuple[int, int, float]]:
    """Similar pairs of one block, recomputed from (id, text) rows."""
    docs = sorted((i, _words(t), _exact_key(t)) for i, t in rows if t is not None)
    feats = [(i, _ngrams(w), len(w) <= 50, fp) for i, w, fp in docs]
    out = []
    for x, (ia, sa, short_a, fa) in enumerate(feats):
        for ib, sb, short_b, fb in feats[x + 1:]:
            if short_a and short_b and fa == fb:
                continue
            inter = len(sa & sb)
            union = len(sa) + len(sb) - inter
            sim = inter / union if union > 0 else 0.0
            if sim >= threshold:
                out.append((ia, ib, sim))
    return out


PAIR_COLS = ["id_a", "id_b", "similarity"]


class Dedup(Workload):
    """Near-dup pairs, connected components and the retained pages over the
    whole table, then block-local similar pairs over its first blocks."""

    name = "dedup"
    size = 100_000
    blocked_pages = 4 * BLOCK  # all blocks run in one task today: time grows per block
    warmups = 0  # the reference pairs warm the LSH and verify stages

    def generate(self):
        # synth_pages draws its exact-duplicate pool (~1% of rows) at random,
        # and the near-dup edges grow with the square of the pool: a seed
        # with 3% more pool rows does ~6% more dedup work. Keep exactly 1%
        # pool rows, so seeds change the content, not the amount of work;
        # row_idx stays dense (blocked_similar_pairs blocks by it).
        n, pool_n = self.n_pages, self.n_pages // 100
        pages = synth_pages(self.spark, n + n // 10, seed=self.seed)
        is_pool = F.col("text").startswith(POOL_TEXT)
        rank = F.row_number().over(Window.partitionBy(is_pool).orderBy("row_idx"))
        kept = pages.withColumn("__r", rank).filter(
            F.col("__r") <= F.when(is_pool, F.lit(pool_n)).otherwise(F.lit(n - pool_n)))
        dense = F.row_number().over(Window.orderBy("row_idx")) - 1
        (kept.withColumn("row_idx", dense).drop("__r")
         .repartition(self.spark.sparkContext.defaultParallelism)
         .write.mode("overwrite").parquet(self.path))

    def bind(self, spark):
        super().bind(spark)
        self.blocked_input = self.pages.filter(F.col("row_idx") < self.blocked_pages)

    def prepare(self):
        pairs = near_dup_pairs(self.pages, "text", "row_idx", threshold=DEDUP_THRESHOLD)
        edges = [(r[0], r[1]) for r in pairs.select("id_a", "id_b").collect()]
        self.ref_edges = len(edges)
        self.ref_label = union_find(edges)
        sizes: dict[int, int] = {}
        for root in self.ref_label.values():
            sizes[root] = sizes.get(root, 0) + 1
        self.ref_sizes = sizes
        dropped = [x for x, root in self.ref_label.items() if x != root]
        self.ref_retained = (self.n_pages - len(dropped),
                             self.n_pages * (self.n_pages - 1) // 2 - sum(dropped))

        self.blocked_rows = min(self.n_pages, self.blocked_pages)
        self.ref_block = self.seed % -(-self.blocked_rows // BLOCK)
        lo = self.ref_block * BLOCK
        rows = self.pages.filter(F.col("row_idx").between(lo, lo + BLOCK - 1)) \
            .select("row_idx", "text").collect()
        ref = self.spark.createDataFrame(block_pairs_py([(r[0], r[1]) for r in rows]),
                                         "id_a long, id_b long, similarity double")
        self.ref_digest = digest(ref, PAIR_COLS)
        self.ref_blocks = None

    def run_pass(self, tr):
        pairs = near_dup_pairs(self.pages, "text", "row_idx", threshold=DEDUP_THRESHOLD)
        with tr.span("dedup.cc"):
            cc = connected_components(pairs, "id_a", "id_b")
        dropped = cc.filter(F.col("node") != F.col("cluster_id")).select(F.col("node").alias("row_idx"))
        retained = self.pages.join(F.broadcast(dropped), "row_idx", "left_anti")
        with tr.span("dedup.retained"):
            materialize(retained)
        res = blocked_similar_pairs(self.blocked_input, "text", "row_idx", block_size=BLOCK,
                                    threshold=DEDUP_THRESHOLD)
        with tr.span("blocked.pairs"):
            rows = res.groupBy("block_id").agg(
                F.count(F.lit(1)), F.sum(F.xxhash64(*PAIR_COLS).cast("decimal(38,0)"))
            ).collect()
        return cc, retained, {r[0]: (int(r[1]), int(r[2])) for r in rows}

    def check(self, out):
        cc, retained, blocks = out
        rows = cc.collect()
        label = {r["node"]: r["cluster_id"] for r in rows}
        expect(label == self.ref_label, "clusters differ from the union-find")
        expect(all(r["cluster_size"] == self.ref_sizes[r["cluster_id"]] for r in rows),
               "cluster sizes differ from the union-find")
        row = retained.agg(F.count(F.lit(1)), F.sum("row_idx")).collect()[0]
        expect((row[0], row[1]) == self.ref_retained, "retained pages differ")
        expect(blocks.get(self.ref_block, (0, 0)) == self.ref_digest,
               f"block {self.ref_block} differs from the plain-Python pairs")
        if self.ref_blocks is None:
            self.ref_blocks = blocks
        expect(blocks == self.ref_blocks, "block pairs differ across passes")

    def probes(self, tr):
        super().probes(tr)
        with tr.span("dedup.candidates"):
            self.candidate_pairs = minhash_lsh_candidates(self.pages, "text", "row_idx").count()
        with tr.span("dedup.verify"):
            self.verified_pairs = near_dup_pairs(
                self.pages, "text", "row_idx", threshold=DEDUP_THRESHOLD).count()

    def layers(self, tr):
        out = super().layers(tr)
        full, rest = divmod(self.blocked_rows, BLOCK)
        out.update({
            "dedup.candidates_s": tr.median("dedup.candidates"),
            "dedup.candidate_pairs": self.candidate_pairs,
            "dedup.verify_s": tr.median("dedup.verify"),
            "dedup.verified_pairs": self.verified_pairs,
            "dedup.verify_yield": self.verified_pairs / max(self.candidate_pairs, 1),
            "dedup.cc_call_s": tr.median("dedup.cc"),
            "dedup.cc_exec_s": tr.median("dedup.retained"),
            "dedup.cc_edges": self.ref_edges,
            "dedup.clusters": len(self.ref_sizes),
            "blocked.pairs_s": tr.median("blocked.pairs"),
            "blocked.pairs_scored": full * BLOCK * (BLOCK - 1) // 2 + rest * (rest - 1) // 2,
            "blocked.pairs_kept": sum(n for n, _ in self.ref_blocks.values()),
        })
        return out


WORKLOADS = {w.name: w for w in (SuiteValidate, SuiteCommitResume, Dedup)}
