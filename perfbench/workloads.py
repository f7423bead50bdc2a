"""The three workloads. Each has one closed-loop client: the next operation
is sent only after the previous one returned.

- `release`: the paper's product, one sources-to-verified-bag lifecycle per
  operation (validated GTEx-shaped TSVs -> link -> restricted merge ->
  consent groups -> JSON-LD + TSV dump -> checksummed bag -> verify).
- `analytics`: an analyst session over the registry's JVM-only queries
  (reference query layer, relational, triples, event windows). No Python
  workers, no fan-out guard.
- `corpus`: LLM-data operators over documents / embeddings / media: the
  fan-out-guarded text and dedup sites and the pandas/Arrow kernels.

A pass runs every operation of the workload once; the query order of each
pass is drawn from the seed. Outputs are checked after the timed region.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
from dataclasses import dataclass

import numpy as np

from perfbench import inputs

ANALYTICS_MIX = [
    "ref_q1_second_level_datasets",
    "q01_pricing_summary",
    "q18_sessionize_events",
    "q34_bgp_over_triples",
    "ev_sliding_windows",
]

CORPUS_MIX = [
    "text_corpus_clean",
    "dedup_minhash_lsh",
    "mm_decode_jpeg",
]

# Input sizes, chosen so that set-up plus three passes of every workload fit
# the benchmark's run budget on a 4-core host. Spark's per-job overhead
# dominates at these sizes, which is what an interactive session pays.
STAR_SF = 0.01
N_DOCUMENTS = 1000
N_EMBEDDINGS = 1000
RELEASE_SUBJECTS = 4_000
RELEASE_SAMPLES_PER_SUBJECT = 5
RELEASE_DANGLING = 37
RELEASE_CONFLICTS = 23

STAR_TABLES = (
    "region nation customer supplier part orders lineitem events documents"
    " embeddings"
).split()


@dataclass
class Op:
    """One client operation: its latency and, once checked, its verdict."""

    name: str
    latency_s: float
    ok: bool | None = None  # None until checked
    detail: str = ""


class Workload:
    name = ""

    def __init__(self, spark, work_dir: str, seed: int, tracer):
        self.spark, self.work_dir, self.seed = spark, work_dir, seed
        self.tracer = tracer
        self.rng = np.random.default_rng(seed)

    def generate(self, out_dir: str) -> None:
        """Write the seeded inputs into `out_dir`; later passes read the
        directory written last."""
        raise NotImplementedError

    def run_pass(self, pass_id: int) -> list[Op]:
        raise NotImplementedError

    def check(self) -> None:
        """Resolve `ok` of every recorded op (outside the timed region)."""

    def output_mb(self) -> float:
        raise NotImplementedError


class Release(Workload):
    name = "release"

    def __init__(self, *args):
        super().__init__(*args)
        self.bags: list[str] = []
        self.bag_sizes: list[int] = []
        self.ops: list[Op] = []

    def generate(self, out_dir: str) -> None:
        self.src = inputs.write_release_sources(
            out_dir, self.seed, RELEASE_SUBJECTS, RELEASE_SAMPLES_PER_SUBJECT,
            RELEASE_DANGLING, RELEASE_CONFLICTS,
        )

    def run_pass(self, pass_id: int) -> list[Op]:
        from gtec_etl_spark import pipelines
        from gtec_etl_spark.sinks import bdbag

        pass_dir = os.path.join(self.work_dir, "release_out", f"pass{pass_id}")
        shutil.rmtree(pass_dir, ignore_errors=True)
        os.makedirs(pass_dir)
        out_dir, bag = os.path.join(pass_dir, "release"), os.path.join(pass_dir, "release.tgz")
        src = self.src
        t0 = time.perf_counter()
        try:
            res = pipelines.run_gtex_like_etl(
                self.spark, src.subjects_tsv, src.samples_tsv, src.restricted_tsv,
                expected_group_sizes=src.group_sizes,
            )
            with self.tracer.span("pipelines.audit"):
                n_dangling = res.dangling_samples.count()
                n_conflicts = res.conflicts.count()
            summary = pipelines.export_release(res, out_dir, bag)
            verified = bdbag.verify_bag(bag)
        except Exception as e:  # a failed lifecycle is a failed operation
            op = Op("release", time.perf_counter() - t0, False, f"{type(e).__name__}: {e}")
        else:
            op = Op("release", time.perf_counter() - t0)
            problems = [] if verified else ["verify_bag failed"]
            if n_dangling != src.n_dangling:
                problems.append(f"dangling {n_dangling} != {src.n_dangling}")
            if n_conflicts != src.n_conflicts:
                problems.append(f"conflicts {n_conflicts} != {src.n_conflicts}")
            problems += self._check_payload(out_dir)
            op.ok, op.detail = not problems, "; ".join(problems)
            self.bags.append(summary["bag_sha256"])
            self.bag_sizes.append(os.path.getsize(bag))
        self.ops.append(op)
        shutil.rmtree(pass_dir, ignore_errors=True)
        return [op]

    def _check_payload(self, out_dir: str) -> list[str]:
        src, problems = self.src, []
        dump = sorted(glob.glob(os.path.join(out_dir, "samples_dump", "*.tsv")))
        n_rows = 0
        for path in dump:
            with open(path) as f:
                n_rows += sum(1 for _ in f) - 1  # one header per part
        if n_rows != src.n_linked:
            problems.append(f"dump rows {n_rows} != {src.n_linked}")
        sizes = {}
        for path in glob.glob(os.path.join(out_dir, "documents", "*.txt")):
            with open(path) as f:
                for line in f:
                    doc = json.loads(line)
                    sizes[doc["name"]] = doc["size"]
                    if len(doc["members"]) != doc["size"]:
                        problems.append(f"group {doc['name']}: members != size")
        if sizes != src.group_sizes:
            problems.append(f"group sizes {sizes} != {src.group_sizes}")
        return problems

    def check(self) -> None:
        # The bag must be byte-identical on every pass of the run.
        if len(set(self.bags)) > 1:
            for op in self.ops:
                op.ok, op.detail = False, f"bag sha256 differs across passes: {set(self.bags)}"

    def bag_sha256(self) -> str:
        return self.bags[0] if self.bags else ""

    def output_mb(self) -> float:
        return float(np.median(self.bag_sizes or [0])) / 2**20


class QueryMix(Workload):
    mix: list[str] = []

    def __init__(self, *args):
        from gtec_etl_spark.plans import registry

        super().__init__(*args)
        specs = registry.specs()
        self.specs = {n: specs[n] for n in self.mix}
        self.results: list[tuple[Op, list, list[str]]] = []

    def generate(self, out_dir: str) -> None:
        inputs.write_star_schema(
            out_dir, self.seed, STAR_SF, N_DOCUMENTS, N_EMBEDDINGS
        )
        self.sf_dir = out_dir

    def run_pass(self, pass_id: int) -> list[Op]:
        ops = []
        tr = self.tracer
        for name in self.rng.permutation(self.mix):
            spec = self.specs[str(name)]
            module = spec.fn.__module__.rsplit(".", 1)[-1]
            t0 = time.perf_counter()
            try:
                with tr.span(f"plans.{module}.build"):
                    df = spec.fn(self.spark, self.sf_dir)
                with tr.span(f"plans.{module}.exec"):
                    rows = df.collect()
            except Exception as e:  # a failed query is a failed operation
                op = Op(spec.name, time.perf_counter() - t0, False, f"{type(e).__name__}: {e}")
            else:
                op = Op(spec.name, time.perf_counter() - t0)
                self.results.append((op, rows, list(df.columns)))
            ops.append(op)
        return ops

    def check(self) -> None:
        """Each execution against its DuckDB oracle on the same files, with
        the parity canonicalization the repository's own gate uses."""
        import duckdb

        from gtec_etl_spark.parity import normalize

        con = duckdb.connect()
        try:
            for t in STAR_TABLES:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            expected = {}
            for name, spec in self.specs.items():
                res = con.sql(spec.oracle)
                expected[name] = (
                    sorted(res.columns), normalize(res.fetchall(), list(res.columns))
                )
        finally:
            con.close()
        self.sizes: dict[str, int] = {}
        for op, rows, cols in self.results:
            got = normalize([tuple(r) for r in rows], cols)
            exp_cols, exp_rows = expected[op.name]
            if not got:
                op.ok, op.detail = False, "empty result"
            elif sorted(cols) != exp_cols:
                op.ok, op.detail = False, f"columns {sorted(cols)} != {exp_cols}"
            elif got != exp_rows:
                op.ok, op.detail = False, f"rows differ from oracle ({len(got)} vs {len(exp_rows)})"
            else:
                op.ok = True
            self.sizes[op.name] = sum(len("\t".join(r)) + 1 for r in got)
        self.results.clear()

    def output_mb(self) -> float:
        return sum(self.sizes.values()) / 2**20


class Analytics(QueryMix):
    name = "analytics"
    mix = ANALYTICS_MIX


class Corpus(QueryMix):
    name = "corpus"
    mix = CORPUS_MIX


WORKLOADS = {w.name: w for w in (Release, Analytics, Corpus)}
