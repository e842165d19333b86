"""``catalog_headline``: one pass over the ``headline=True`` catalog
entries on generated tables, clearing the cache between queries as
bench.py does.

The timed pass collects each result; the output check replays the
collected rows against each entry's DuckDB oracle, and checks the one
entry without an oracle (``dedup_minhash_lsh``) against the duplicates
the generator planted.
"""

from __future__ import annotations

import os
import re
from itertools import combinations

from kwwhat_spark.queries import REGISTRY

from perfbench import tables

SCALE = 0.3
HEADLINE = [n for n, q in REGISTRY.items() if q.headline]


class Collected:
    """A collected result that ``oracle_harness.compare`` can read
    without running the query again."""

    def __init__(self, df, rows):
        self.columns = df.columns
        self.dtypes = df.dtypes
        self.rows = rows

    def collect(self):
        return self.rows


class CatalogHeadline:
    name = "catalog_headline"

    def __init__(self, ctx):
        self.ctx = ctx
        self.sf_dir = os.path.join(ctx.work, "tables")
        self.results: dict[str, Collected] = {}
        self.inputs: dict = {}

    def setup(self) -> None:
        self.tables = tables.generate(self.ctx.seed, SCALE)
        self.inputs = tables.write_tables(self.sf_dir, self.tables)

    def run(self) -> None:
        spark = self.ctx.spark
        for name in HEADLINE:
            with self.ctx.tracer.span(f"queries.{name}"):
                df = REGISTRY[name].spark(spark, self.sf_dir)
                self.results[name] = Collected(df, df.collect())
                spark.catalog.clearCache()
            self.ctx.ops += 1

    def check(self) -> list[str]:
        from tests.oracle_harness import compare, duckdb_connection

        problems = []
        con = duckdb_connection(self.sf_dir)
        for name in HEADLINE:
            self.ctx.ops += 1
            oracle = REGISTRY[name].oracle
            res = self.results[name]
            if oracle is None:
                diff = self._check_minhash(res)
            else:
                diff = compare(res, con, oracle)
            if not res.rows:
                diff = diff or ["empty result proves nothing"]
            if diff:
                problems.append(f"{name}: {str(diff[0])[:300]}")
        con.close()
        return problems

    def _check_minhash(self, res: Collected) -> list[str]:
        """Every reported pair is a true near duplicate (exact 3-shingle
        Jaccard of at least the 0.5 threshold), and every pair of
        identical documents long enough to shingle is reported."""
        docs = self.tables["documents"].to_pydict()
        text = dict(zip(docs["doc_id"], docs["text"]))

        def shingles(t: str) -> set[str]:
            w = re.split(r"\s+", t.strip())
            return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)} or {" ".join(w)}

        cols = res.columns
        a, b = cols.index("doc_a"), cols.index("doc_b")
        got = {tuple(sorted((r[a], r[b]))) for r in res.rows}
        bad = []
        for x, y in got:
            sx, sy = shingles(text[x]), shingles(text[y])
            if len(sx & sy) < 0.5 * len(sx | sy):
                bad.append(f"pair {x},{y} below threshold")
        by_text: dict[str, list[int]] = {}
        for i, t in text.items():
            by_text.setdefault(t, []).append(i)
        for ids in by_text.values():
            for pair in combinations(sorted(ids), 2):
                if pair not in got:
                    bad.append(f"identical docs {pair} not paired")
        return bad

    def layer_metrics(self, self_time, groups) -> dict:
        m = {}
        for name in HEADLINE:
            g = groups.get(f"queries.{name}")
            m[f"queries.{name}.s"] = (self_time.get(f"queries.{name}", 0.0), "s")
            m[f"queries.{name}.stages"] = (g.stages if g else 0, "count")
        return m
