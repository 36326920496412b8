"""The three workloads, each driven only through the package's public API.

Every workload has the same life cycle, run by ``run.py``: ``setup()``
(repeated; regenerates the seeded inputs), ``warm()`` (untimed full-size
operations), ``measure(seconds)`` (the timed window) and ``check()``
(oracle comparison outside the window, counting failed operations). A
traced run replaces ``measure`` by the layer sweep in ``layers.py``.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import urllib.parse
import urllib.request

from . import inputs, oracles

HERE = os.path.dirname(os.path.abspath(__file__))

# Input sizes. "tiny" is for the benchmark's self-check only.
SIZES = {
    "kg_build": {"full": {"pages": 3000}, "tiny": {"pages": 40}},
    "kg_rescore": {"full": {"docs": 30000, "vocab": 1500}, "tiny": {"docs": 400, "vocab": 60}},
    "kg_serve": {
        "full": {"docs": 20000, "vocab": 1500, "clients": 2, "warmup": 60, "checks": 12},
        "tiny": {"docs": 300, "vocab": 60, "clients": 2, "warmup": 4, "checks": 6},
    },
}
MIN_ITERATIONS = 3
# kg_rescore's ops took 19, 8.5, 7.4, 6.3 s, then about 6 s each: with two
# warm-up ops the timed ones still fell, and how fast differed between runs
WARMUP_OPS = 3
WARMUP_SECONDS = 15.0
LOOKUP_LIMIT = 100


class Workload:
    name = ""

    def __init__(self, spark, work_dir: str, seed: int, size: str, cores: int):
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.cfg = SIZES[self.name][size]
        self.cores = cores
        self.input_dir = os.path.join(work_dir, "inputs")
        self.attempted = 0
        self.failed = 0
        self.plant_mismatch = False

    def reset(self) -> None:
        """Drop what one operation left in the JVM before the next starts."""
        self.spark.catalog.clearCache()
        self.spark._jvm.System.gc()

    def stats(self) -> dict:
        """Input sizes reported next to the metrics."""
        return dict(self.cfg)

    def first_op(self) -> None:
        self.op()

    def warm(self) -> None:
        """Untimed full-size operations until the JIT and the caches settle:
        at least WARMUP_OPS of them, and for at least WARMUP_SECONDS."""
        start = time.perf_counter()
        n = 0
        while n < WARMUP_OPS or time.perf_counter() - start < WARMUP_SECONDS:
            self.reset()
            self.attempted += 1
            self.first_op() if n == 0 else self.op()
            n += 1

    # batch workloads: a timed operation is one full job
    def op(self) -> None:
        raise NotImplementedError

    def items(self) -> int:
        raise NotImplementedError

    def measure(self, seconds: float) -> dict:
        times = []
        start = time.perf_counter()
        while len(times) < MIN_ITERATIONS or time.perf_counter() - start < seconds:
            self.reset()
            self.attempted += 1
            t0 = time.perf_counter()
            self.op()
            times.append(time.perf_counter() - t0)
        job_s = statistics.median(times)
        return {"job_s": job_s, "items_per_s": self.items() / job_s, "times_s": times}


class KgBuild(Workload):
    """Web pages -> build_triples -> all 11 columns, to a noop sink."""

    name = "kg_build"

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        from pmcanalysis_spark import fixtures
        from pmcanalysis_spark.schemas import HIERARCHY

        self.lexicon = fixtures.build_lexicon()
        self.lex_pairs = [(e.name, e.term_id) for e in self.lexicon]
        _, self.closure = fixtures.build_hierarchy_terms()
        self.hierarchy = self.spark.createDataFrame(self.closure, HIERARCHY)
        self.pages_path = os.path.join(self.input_dir, "pages")
        self.got: list = []

    def setup(self) -> None:
        inputs.write_pages(self.seed, self.cfg["pages"], self.pages_path, files=2 * self.cores)

    def triples(self):
        from pmcanalysis_spark.pipeline import build_triples

        pages = self.spark.read.parquet(self.pages_path)
        return build_triples(pages, self.lex_pairs, hierarchy=self.hierarchy)

    def first_op(self) -> None:
        # the first untimed run also yields the rows the oracle checks
        self.got = [tuple(r) for r in self.triples().collect()]

    def op(self) -> None:
        self.triples().write.format("noop").mode("overwrite").save()

    def items(self) -> int:
        return self.cfg["pages"]

    def check(self) -> list[str]:
        expected, total = oracles.expected_triples(self.pages_path, self.lexicon,
                                                   self.closure, procs=self.cores)
        if self.plant_mismatch:
            expected = [r[:8] + (r[8] + 1,) + r[9:] for r in expected]
        bad = oracles.check_build(self.got, expected, total)
        self.failed += bool(bad)
        return bad


class _DocTermsWorkload(Workload):
    """Shared input of kg_rescore and kg_serve: a seeded doc_terms parquet
    plus a lexicon and closure over its vocabulary."""

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        from pmcanalysis_spark.schemas import HIERARCHY, LEXICON

        vocab = self.cfg["vocab"]
        self.lexicon_rows = inputs.lexicon_rows(vocab)
        self.lexicon_df = self.spark.createDataFrame(self.lexicon_rows, LEXICON)
        self.closure_df = self.spark.createDataFrame(inputs.closure_rows(vocab), HIERARCHY)
        self.dt_path = os.path.join(self.input_dir, "doc_terms")
        self.rows = 0

    def write_doc_terms(self) -> None:
        frame = inputs.doc_terms_frame(self.seed, self.cfg["docs"], self.cfg["vocab"])
        inputs.write_frame(frame, self.dt_path, files=2 * self.cores)
        self.rows = len(frame)

    def stats(self) -> dict:
        return {**self.cfg, "doc_terms_rows": self.rows}


class KgRescore(_DocTermsWorkload):
    """doc_terms -> triples_from_doc_terms -> materialize 'triples' ->
    canonicalize_terms + rewrite_triples_canonical -> materialize
    'triples_canonical' (the re-score path of run_pipeline)."""

    name = "kg_rescore"

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        self.n_ops = 0
        self.stage_dir = ""

    def setup(self) -> None:
        self.write_doc_terms()

    def next_stage_dir(self) -> str:
        """A fresh directory per operation, so no stage can resume."""
        if self.stage_dir:
            shutil.rmtree(self.stage_dir, ignore_errors=True)
        self.n_ops += 1
        self.stage_dir = os.path.join(self.work, "stages", f"op{self.n_ops:03d}")
        return self.stage_dir

    def op(self) -> None:
        from pmcanalysis_spark.canonicalize import canonicalize_terms, rewrite_triples_canonical
        from pmcanalysis_spark.lineage import materialize_stage
        from pmcanalysis_spark.pipeline import triples_from_doc_terms

        d = self.next_stage_dir()
        dt = self.spark.read.parquet(self.dt_path)
        triples = triples_from_doc_terms(dt, assume_distinct=False)
        out, res = materialize_stage(triples, "triples", d, key_col="subj")
        canon = rewrite_triples_canonical(
            out.select("subj", "pred", "obj", "nab", "na", "nb", "npmi"),
            canonicalize_terms(self.lexicon_df),
        )
        _, cres = materialize_stage(canon, "triples_canonical", d, key_col="subj")
        if res.resumed or cres.resumed:
            raise RuntimeError(f"a stage under {d} resumed instead of running")

    def items(self) -> int:
        return self.rows

    def check(self) -> list[str]:
        rows = self.lexicon_rows
        if self.plant_mismatch:
            # the oracle is told two head terms share a name; the program is not
            rows = rows + [("planted", inputs.term_id(f, 0), "name") for f in ("DOID", "HP")]
        bad = oracles.check_rescore(self.dt_path, self.stage_dir, rows)
        self.failed += bool(bad)
        return bad


class KgServe(_DocTermsWorkload):
    """Serving snapshot over doc_terms, KGServer in this process, and a
    closed loop of HTTP clients in a separate process."""

    name = "kg_serve"

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        self.paths: dict[str, str] = {}
        self.index = None
        self.server = None
        self.n_builds = 0
        self.requests = request_mix(self.seed, self.cfg["vocab"], 4000)

    def setup(self) -> None:
        from pmcanalysis_spark.serving import KGIndex, build_serving_tables

        self.write_doc_terms()
        self.n_builds += 1
        base = os.path.join(self.work, "serving", f"build{self.n_builds}")
        dt = self.spark.read.parquet(self.dt_path)
        self.paths = build_serving_tables(dt, self.lexicon_df, self.closure_df, base)
        self.index = KGIndex(self.spark, self.paths)

    def start_server(self):
        from pmcanalysis_spark.server import KGServer

        if self.server is None:
            self.server = KGServer(self.index).start()
        return self.server

    def stop(self) -> None:
        if self.server is not None:
            self.server.stop()
            self.server = None

    def warm(self) -> None:
        # the client process warms up with its own first requests
        self.start_server()

    def measure(self, seconds: float) -> dict:
        server = self.start_server()
        spec = os.path.join(self.work, "client_spec.json")
        out = os.path.join(self.work, "client_out.json")
        with open(spec, "w") as f:
            json.dump({"url": server.url, "paths": self.requests,
                       "clients": self.cfg["clients"], "warmup": self.cfg["warmup"],
                       "seconds": seconds}, f)
        subprocess.run([sys.executable, os.path.join(HERE, "client.py"), spec, out],
                       check=True, timeout=seconds + 150)
        with open(out) as f:
            res = json.load(f)
        lat = res["latencies_ms"]
        self.attempted += len(lat) + res["warmup_requests"]
        self.failed += res["failed"]
        return {
            "job_s": statistics.median(lat) / 1000.0,
            "items_per_s": len(lat) / res["window_s"],
            "p90_ms": statistics.quantiles(lat, n=10)[-1] if len(lat) > 1 else lat[0],
            "requests": len(lat),
        }

    def check(self) -> list[str]:
        server = self.start_server()
        oracle = oracles.ServeOracle(self.paths)
        bad = []
        try:
            if not oracle.inverted_matches(self.dt_path):
                self.failed += 1
                bad.append("inverted index differs from the distinct input doc_terms")
            sample = random.Random(self.seed).sample(self.requests, self.cfg["checks"])
            for path in sample:
                self.attempted += 1
                got = fetch_json(server.url + path)
                want = expected_reply(oracle, path)
                if self.plant_mismatch:
                    want = want + ["planted"]
                if got != want:
                    self.failed += 1
                    bad.append(f"{path}: reply differs from the DuckDB oracle")
        finally:
            oracle.close()
        return bad


def request_mix(seed: int, vocab: int, n: int) -> list[str]:
    """80% single-term lookups, 10% two-term AND lookups, 10% autocompletes;
    term choice is Zipf over rank, as in the doc_terms input."""
    import numpy as np

    rng = np.random.default_rng(seed + 1)
    ranks = np.arange(vocab)
    p = inputs.zipf(vocab)

    def term(family=None):
        fam = family or inputs.FAMILIES[rng.choice(3, p=inputs.FAMILY_WEIGHTS)]
        return inputs.term_id(fam, int(rng.choice(ranks, p=p)))

    out = []
    for kind in rng.random(n):
        if kind < 0.8:
            q = {"term": [term()]}
        elif kind < 0.9:
            q = {"term": [term("DOID"), term("HP")], "mode": ["and"]}
        else:
            t = term()
            fam, rank = t.split(":")
            q = {"prefix": [f"{fam.lower()} term {int(rank) // 10}"], "k": ["10"]}
        if "term" in q:
            q["limit"] = [str(LOOKUP_LIMIT)]
            out.append("/lookup?" + urllib.parse.urlencode(q, doseq=True))
        else:
            out.append("/autocomplete?" + urllib.parse.urlencode(q, doseq=True))
    return out


def fetch_json(url: str):
    with urllib.request.urlopen(url, timeout=60) as resp:
        if resp.status != 200:
            raise RuntimeError(f"{url}: HTTP {resp.status}")
        return json.loads(resp.read())


def expected_reply(oracle: oracles.ServeOracle, path: str):
    parsed = urllib.parse.urlparse(path)
    q = urllib.parse.parse_qs(parsed.query)
    if parsed.path == "/lookup":
        return oracle.lookup(q["term"], q.get("mode", ["or"])[0], int(q["limit"][0]))
    return oracle.autocomplete(q["prefix"][0], int(q["k"][0]))


WORKLOADS = {w.name: w for w in (KgBuild, KgRescore, KgServe)}
