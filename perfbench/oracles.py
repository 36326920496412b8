"""Independent checks of each workload's output, run outside the timed window.

- kg_build: ``oracle.MiniOracle`` over the pages' ``text`` column. It scans
  tokens by brute force and never calls ``extract``. Its per-page mention
  scan runs in a few worker processes (this module run with ``-m``, fed
  pickles on stdin); the triples are then assembled by
  ``MiniOracle.triples`` itself.
- kg_rescore: DuckDB SQL over the same ``doc_terms`` parquet, with Spark's
  NULL-for-undefined arithmetic (``log`` of a non-positive value, division by
  zero) written out as CASE guards.
- kg_serve: DuckDB SQL over the serving snapshot's parquet files.

Each check returns a list of mismatch descriptions; empty means correct.
"""

from __future__ import annotations

import glob
import math
import os
import pickle
import subprocess
import sys

import duckdb
import pandas as pd

REL_TOL = 1e-9
# lgl = +-2*ln(lam), where lam is a sum of nine terms near t*ln(t) that
# almost cancel: two engines summing them in another order differ in lam by
# a few ulps of t*ln(t), which can be a large share of a small lam, or flip
# a lam near 0 to <= 0, where lgl is undefined. So lgl is also accepted when
# the two lam agree to LAM_EPS * t*ln(t), an undefined lgl counting as lam 0.
LAM_EPS = 1e-13
SCORES = ("tscore", "zscore", "lmi", "npmi", "lgl")


def _undefined(v) -> bool:
    return v is None or (isinstance(v, float) and not math.isfinite(v))


def close(a, b) -> bool:
    """Scores agree: both undefined (NULL/NaN/inf), or equal to REL_TOL."""
    if _undefined(a) or _undefined(b):
        return _undefined(a) and _undefined(b)
    return abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b))


def lgl_close(got, want, nab, na, nb, total) -> bool:
    if close(got, want):
        return True
    sign = -2.0 if nab < na * nb / total else 2.0

    def lam(v):
        return 0.0 if _undefined(v) else math.exp(v / sign)

    return abs(lam(got) - lam(want)) <= LAM_EPS * total * math.log(total)


# ---------------------------------------------------------------- kg_build

def _page_mentions(args) -> dict[str, list]:
    files, lexicon, closure = args
    import pyarrow.parquet as pq

    from pmcanalysis_spark.oracle import MiniOracle

    oracle = MiniOracle(lexicon, closure)
    out = {}
    for path in files:
        t = pq.read_table(path, columns=["url", "text", "lang"]).to_pylist()
        for row in t:
            if row["lang"] == "en":
                out[row["url"]] = oracle.mentions_for_text(row["url"], row["text"])
    return out


def expected_triples(pages_path: str, lexicon, closure, procs: int) -> list[tuple]:
    from pmcanalysis_spark.oracle import MiniOracle

    files = sorted(glob.glob(os.path.join(pages_path, "*.parquet")))
    # plain subprocesses, not a multiprocessing pool: a pool starts a
    # resource-tracker process that outlives the benchmark by a moment
    workers = [subprocess.Popen([sys.executable, "-m", "perfbench.oracles"],
                                stdin=subprocess.PIPE, stdout=subprocess.PIPE)
               for _ in range(procs)]
    mentions: dict[str, list] = {}
    try:
        for i, worker in enumerate(workers):
            pickle.dump((files[i::procs], lexicon, closure), worker.stdin)
            worker.stdin.close()
        for worker in workers:
            mentions.update(pickle.load(worker.stdout))
    finally:
        for worker in workers:
            worker.stdin.close()
            worker.stdout.close()
            worker.wait()
    if any(worker.returncode for worker in workers):
        raise RuntimeError("an oracle worker failed")

    class Precomputed(MiniOracle):
        def mentions_for_text(self, url, text):
            return mentions[url]

    pages = [{"url": u, "text": None, "lang": "en"} for u in sorted(mentions)]
    oracle = Precomputed(lexicon, closure)
    return oracle.triples(pages), oracle.run(pages)["corpus_size"]


def check_build(got: list, expected: list[tuple], total: int) -> list[str]:
    """``got``: rows (subj, pred, obj, 5 scores, nab, na, nb); ``total``:
    the oracle's corpus size."""
    cols = ("subj", "pred", "obj") + SCORES + ("nab", "na", "nb")
    exp = {(r[0], r[2]): r for r in expected}
    bad = []
    if len(got) != len(exp):
        bad.append(f"triples: {len(got)} rows, expected {len(exp)}")
    for row in got:
        want = exp.get((row[0], row[2]))
        if want is None:
            bad.append(f"unexpected triple {row[0]} {row[2]}")
            continue
        for i, c in enumerate(cols):
            if c == "lgl":
                ok = lgl_close(row[i], want[i], *want[8:], total)
            else:
                ok = close(row[i], want[i]) if c in SCORES else row[i] == want[i]
            if not ok:
                bad.append(f"{row[0]} {row[2]} {c}: {row[i]!r} != {want[i]!r}")
    return bad[:20]


# -------------------------------------------------------------- kg_rescore

_MACROS = """
create or replace macro sln(x) as case when x > 0 then ln(x) end;
create or replace macro sdiv(a, b) as case when b <> 0 then a / b end;
"""

_EXPECTED_TRIPLES = """
with dt as (select distinct term_id, doc_id from read_parquet('{dt}/*.parquet')),
stats as (select term_id, count(*)::double n from dt group by term_id),
tot as (select count(distinct doc_id)::double t from dt),
a as (select term_id a_id, doc_id from dt where starts_with(term_id, 'DOID:')),
b as (select term_id b_id, doc_id from dt
      where starts_with(term_id, 'HP:') or starts_with(term_id, 'MP:')),
p as (select a_id, b_id, count(*)::double nab from a join b using (doc_id) group by all),
s as (select a_id, b_id, nab, sa.n na, sb.n nb, t from p
      join stats sa on sa.term_id = a_id join stats sb on sb.term_id = b_id, tot)
select a_id subj, b_id obj, nab::bigint nab, na::bigint na, nb::bigint nb, t,
  case when nab < na * nb / t then -2 else 2 end lgl_sign,
  sdiv(nab - na * nb / (t * t), sqrt(nab)) tscore,
  sdiv(nab - na * nb / (t * t), sqrt(na * nb / (t * t))) zscore,
  nab * sln(t * nab / (na * nb)) lmi,
  sdiv(sln((nab / t) / ((na / t) * (nb / t))), -1 * sln(nab / t)) npmi,
  case when nab < na * nb / t then -2 else 2 end * sln(
      t * sln(t) - na * sln(na) - nb * sln(nb) + nab * sln(nab)
    + (t - na - nb + nab) * sln(t - na - nb + nab)
    + (na - nab) * sln(na - nab) + (nb - nab) * sln(nb - nab)
    - (t - na) * sln(t - na) - (t - nb) * sln(t - nb)) lgl
from s
"""


def _score_mismatch_sql(got: str) -> str:
    """Rows where got and expected disagree; undefined == NULL/NaN/inf."""
    def undef(x):
        return f"({x} is null or isnan({x}) or isinf({x}))"

    def lam(x):
        return f"(case when {undef(x)} then 0 else exp({x} / e.lgl_sign) end)"

    conds = []
    for c in SCORES:
        g, e = f"g.{c}", f"e.{c}"
        ok = (f"({undef(g)} and {undef(e)}) or (not {undef(g)} and not {undef(e)}"
              f" and abs({g} - {e}) <= {REL_TOL} * greatest(1.0, abs({g}), abs({e})))")
        if c == "lgl":
            ok += f" or abs({lam(g)} - {lam(e)}) <= {LAM_EPS} * e.t * ln(e.t)"
        conds.append(f"not ({ok})")
    return (
        f"select count(*) from exp e full outer join read_parquet('{got}/*.parquet') g"
        " using (subj, obj) where g.nab is distinct from e.nab"
        " or g.na is distinct from e.na or g.nb is distinct from e.nb or "
        + " or ".join(conds)
    )


def _components(lexicon_rows) -> dict[str, str]:
    """Min-id connected components of terms that share a name (union-find)."""
    parent: dict[str, str] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    by_name: dict[str, list[str]] = {}
    for name, tid, _kind in lexicon_rows:
        find(tid)
        by_name.setdefault(name, []).append(tid)
    for tids in by_name.values():
        for t in tids[1:]:
            a, b = find(tids[0]), find(t)
            if a != b:
                parent[max(a, b)] = min(a, b)
    return {t: find(t) for t in parent}


def check_rescore(dt_path: str, stage_dir: str, lexicon_rows) -> list[str]:
    con = duckdb.connect()
    try:
        con.execute(_MACROS)
        con.execute("create table exp as " + _EXPECTED_TRIPLES.format(dt=dt_path))
        triples = os.path.join(stage_dir, "triples", "data")
        bad = []
        n_exp = con.execute("select count(*) from exp").fetchone()[0]
        n_got = con.execute(f"select count(*) from read_parquet('{triples}/*.parquet')").fetchone()[0]
        if n_exp != n_got:
            bad.append(f"triples: {n_got} rows, expected {n_exp}")
        n_bad = con.execute(_score_mismatch_sql(triples)).fetchone()[0]
        if n_bad:
            bad.append(f"triples: {n_bad} rows disagree with the DuckDB oracle")
        canon = pd.DataFrame(list(_components(lexicon_rows).items()), columns=["term_id", "c"])
        con.register("canon", canon)
        got_c = os.path.join(stage_dir, "triples_canonical", "data")
        n_bad = con.execute(f"""
            with e as (
              select coalesce(c1.c, subj) subj, coalesce(c2.c, obj) obj,
                     sum(nab) nab, max(na) na, max(nb) nb
              from read_parquet('{triples}/*.parquet') t
              left join canon c1 on c1.term_id = t.subj
              left join canon c2 on c2.term_id = t.obj group by all)
            select count(*) from e full outer join read_parquet('{got_c}/*.parquet') g
            using (subj, obj) where g.nab is distinct from e.nab
              or g.na is distinct from e.na or g.nb is distinct from e.nb
        """).fetchone()[0]
        if n_bad:
            bad.append(f"triples_canonical: {n_bad} rows disagree with the DuckDB oracle")
        return bad
    finally:
        con.close()


# ---------------------------------------------------------------- kg_serve

class ServeOracle:
    """Answers lookups and autocompletes with DuckDB over the snapshot files."""

    def __init__(self, paths: dict[str, str]):
        self.con = duckdb.connect()
        for name in ("inverted", "lexicon", "hierarchy"):
            self.con.execute(
                f"create view {name} as select * from read_parquet('{paths[name]}/*.parquet')"
            )

    def close(self) -> None:
        self.con.close()

    def lookup(self, terms: list[str], mode: str, limit: int) -> list[dict]:
        self.con.execute("create or replace temp table q(qterm varchar)")
        self.con.executemany("insert into q values (?)", [(t,) for t in terms])
        rows = self.con.execute(f"""
            with ex as (select qterm, qterm member from q
                        union select q.qterm, h.term_id from q
                        join hierarchy h on h.ancestor_id = q.qterm),
            hits as (select i.doc_id, i.term_id, ex.qterm from inverted i
                     join ex on ex.member = i.term_id)
            select doc_id, count(distinct term_id) n_matched from hits group by doc_id
            having {'count(distinct qterm) = ' + str(len(set(terms))) if mode == 'and' else 'true'}
            order by n_matched desc, doc_id asc limit {int(limit)}
        """).fetchall()
        return [{"doc_id": d, "n_matched": n} for d, n in rows]

    def autocomplete(self, prefix: str, k: int) -> list[str]:
        rows = self.con.execute(
            "select distinct name from lexicon where starts_with(lower(name), lower(?))"
            " order by name limit ?", [prefix, k],
        ).fetchall()
        return [r[0] for r in rows]

    def inverted_matches(self, dt_path: str) -> bool:
        """The inverted index holds exactly the distinct input (term, doc) pairs."""
        n = self.con.execute(f"""
            with e as (select distinct term_id, doc_id from read_parquet('{dt_path}/*.parquet')),
            g as (select term_id, doc_id from inverted)
            select (select count(*) from (from e except all from g))
                 + (select count(*) from (from g except all from e))
        """).fetchone()[0]
        return n == 0


if __name__ == "__main__":
    # one worker of expected_triples: (files, lexicon, closure) in, mentions out
    pickle.dump(_page_mentions(pickle.load(sys.stdin.buffer)), sys.stdout.buffer)
