"""The two workloads, and the curation slice that ``catalog_ingest`` runs:
their inputs, set-up, op lists and output checks.

An op is one user-visible call: ``build`` makes the result object (for a
query, the lazy DataFrame, including any jobs the engine launches while
building it), ``run`` materializes it, and ``check`` compares the
materialized value with what the inputs say it must be (None = correct).
"""

from __future__ import annotations

import dataclasses
import os
import re
from dataclasses import dataclass
from typing import Any, Callable

import check
import gen

Check = Callable[[Any], "str | None"]


@dataclass
class Op:
    name: str
    layer: str  # span prefix: <layer>.build / <layer>.exec
    build: Callable[[], Any]
    run: Callable[[Any], Any]
    check: Check
    group: int = 0  # ops run in group order; the seed permutes within a group


def oracle_sql(sql: str) -> str:
    """Make the oracle's decimal->double casts correctly rounded.

    DuckDB converts a DECIMAL(38, s) to DOUBLE through a rounded integer
    and a division, so a large exact sum can come out one ulp off (q01's
    ``sum_charge`` at sf0.1: exact 2828375807.434132, DuckDB
    2828375807.4341316). Spark rounds the exact decimal once. Going
    through the decimal's exact text keeps the oracle exact."""
    return re.sub(
        r"CAST\(SUM\(CAST\((.*?) AS DECIMAL\((\d+),\s*(\d+)\)\)\) AS DOUBLE\)",
        r"CAST(CAST(SUM(CAST(\1 AS DECIMAL(\2,\3))) AS VARCHAR) AS DOUBLE)",
        sql,
    )


def to_pandas(df):
    return df.toPandas()


def equals(want) -> Check:
    return lambda got: None if got == want else f"got {got!r}, want {want!r}"


class HashStable:
    """Check for an op without an oracle: non-empty, same value hash on
    every pass."""

    def __init__(self):
        self.seen: str | None = None

    def __call__(self, got) -> str | None:
        if len(got) == 0:
            return "empty result"
        h = check.value_hash(got)
        if self.seen is None:
            self.seen = h
        return None if h == self.seen else "value hash changed between passes"


def _duck(data_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for t in gen.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


class RegistryWorkload:
    """Ops that are entries of the engine's query registry, checked
    against the registry's DuckDB oracle over the same parquet files."""

    name: str
    sf: float  # scale factor of the generated tables
    docs: int  # rows of the documents table
    vecs: int  # rows of the embeddings table
    passes = 3
    registry: tuple[str, ...]  # query-name prefixes, e.g. "q01"
    tables: tuple[str, ...]  # tables whose scans set-up loads

    def prepare(self, work: str, seed: int, rng) -> None:
        self.data = os.path.join(work, "data")
        self.rows = gen.write_tables(self.data, seed, self.sf, self.docs, self.vecs)
        self.draw_parameters(rng)

    def draw_parameters(self, rng) -> None:
        pass

    def expect(self) -> None:
        from intake_spark.benchqueries import get_oracle_sql

        oracle = get_oracle_sql()
        self.queries = {p: next(q for q in self.fns if q.startswith(p + "_"))
                        for p in self.registry}
        con = _duck(self.data)
        self.expected = {full: con.sql(oracle_sql(oracle[full])).df()
                         for full in self.queries.values() if full in oracle}
        self.expect_extra(con)
        con.close()

    def expect_extra(self, con) -> None:
        pass

    def facts(self, spark) -> dict:
        return {}

    def start_pass(self, p: int) -> None:
        pass

    def _check(self, full: str) -> Check:
        want = self.expected.get(full)
        if want is None:
            return HashStable()
        return lambda got: check.mismatch(got, want)

    def ops(self, spark) -> list[Op]:
        out = []
        for short, full in self.queries.items():
            fn = self.fns[full]
            layer = "llm.queries" if fn.__module__.endswith("llm.queries") else "benchqueries"
            out.append(Op(short, layer, lambda fn=fn: fn(spark, self.data),
                          to_pandas, self._check(full)))
        return out + self.extra_ops(spark)

    def extra_ops(self, spark) -> list[Op]:
        return []

    def setup(self, spark, tracer, job_group) -> None:
        from intake_spark.benchqueries import get_queries
        from intake_spark.session import load_table

        self.fns = get_queries()
        for t in self.tables:
            load_table(spark, self.data, t)


class Tabular(RegistryWorkload):
    """Relational registry queries plus declarative catalog entries."""

    name = "tabular"
    sf = 0.03
    docs = 500
    vecs = 500
    registry = ("q01", "q03", "q05", "q10", "q13", "q18", "q34", "q37", "q40", "q41")
    passes = 5
    tables = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events")

    def draw_parameters(self, rng) -> None:
        # user-parameter values drawn from the seed, from ranges narrow
        # enough that every seed asks for about the same amount of work
        self.qty = int(rng.integers(25, 31))
        self.bal = int(rng.integers(6000, 6501))
        self.year = int(rng.integers(1997, 1999))

    def expect_extra(self, con) -> None:
        self.cat_expected = {
            "cat_join_agg": con.sql(f"""
                SELECT o.o_orderpriority, COUNT(*) AS n,
                       CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
                FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
                WHERE l.l_quantity > {self.qty}
                GROUP BY o.o_orderpriority""").df(),
            "cat_window": con.sql(f"""
                SELECT * FROM (
                  SELECT c_custkey, c_nationkey, c_acctbal,
                         CAST(ROW_NUMBER() OVER (PARTITION BY c_nationkey
                             ORDER BY c_acctbal DESC, c_custkey DESC) AS INTEGER) AS rk
                  FROM customer WHERE c_acctbal > {self.bal})
                WHERE rk <= 3""").df(),
            "cat_pipeline": con.sql(f"""
                SELECT o_orderstatus, o_orderpriority, COUNT(*) AS count
                FROM orders WHERE o_orderdate >= TIMESTAMP '{self.year}-01-01'
                GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""").df(),
        }

    def setup(self, spark, tracer, job_group) -> None:
        super().setup(spark, tracer, job_group)
        from intake_spark import datatypes as dt
        from intake_spark.catalog import Catalog, open_catalog
        from intake_spark.readers import SparkParquet
        from intake_spark.user_parameters import SimpleUserParameter

        cat = Catalog()
        for t in ("lineitem", "orders", "customer", "part"):
            cat[t] = SparkParquet(data=dt.Parquet(url=f"{self.data}/{t}.parquet"))
        cat["orders_keyed"] = cat["orders"].withColumnRenamed("o_orderkey", "l_orderkey")
        cat["orders_since"] = (cat["orders"].filter("o_orderdate >= TIMESTAMP '{year}-01-01'")
                               .rollup("o_orderstatus", "o_orderpriority").count())
        tok = cat.aliases["orders_since"]
        cat.entries[tok].user_parameters["year"] = SimpleUserParameter(dtype=int, default=1998)
        path = os.path.join(os.path.dirname(self.data), "tabular_catalog.yaml")
        with tracer.span("catalog.to_yaml"):
            cat.to_yaml_file(path)
        with tracer.span("catalog.open"):
            self.cat = open_catalog(path)

    def extra_ops(self, spark) -> list[Op]:
        from intake_spark.steps import run_steps

        cat, tr = self.cat, self.tracer

        def steps_op(targets, steps):
            def build():
                with tr.span("catalog.rehydrate"):
                    tg = {t: cat[t] for t in targets}
                with tr.span("steps.run_steps"):
                    return run_steps(tg, steps, spark=spark)
            return build

        def pipeline_build():
            with tr.span("catalog.rehydrate"):
                pipe = cat.to_reader("orders_since", year=self.year)
            with tr.span("pipeline.read"):
                return pipe.read(spark=spark)

        specs = {
            "cat_join_agg": steps_op(("lineitem", "orders_keyed"), [
                {"target": "lineitem"},
                {"query": f"l_quantity > {self.qty}"},
                {"merge": {"right": "orders_keyed", "on": ["l_orderkey"]}},
                {"groupby": {"by": ["o_orderpriority"], "agg": {
                    "n": "count(*)", "qty": "sum(cast(l_quantity as bigint))"}}},
            ]),
            "cat_window": steps_op(("customer",), [
                {"target": "customer"},
                {"query": f"c_acctbal > {self.bal}"},
                {"window": {"partition_by": ["c_nationkey"],
                            "order_by": ["c_acctbal", "c_custkey"], "desc": True,
                            "exprs": {"rk": "row_number()"}}},
                {"query": "rk <= 3"},
                {"cols": ["c_custkey", "c_nationkey", "c_acctbal", "rk"]},
            ]),
            "cat_pipeline": pipeline_build,
        }
        return [Op(name, "steps" if name != "cat_pipeline" else "pipeline", build,
                   to_pandas,
                   lambda got, w=self.cat_expected[name]: check.mismatch(got, w))
                for name, build in specs.items()]


class Curation(RegistryWorkload):
    """The LLM-curation slice that ``catalog_ingest`` runs on a generated
    document corpus: two session-shared dedup tables built in set-up,
    their consumers (q84, q103), a query that launches jobs and a Python
    stage while its frame is built (q107), and a plain SQL one (q27)."""

    sf = 0.001
    docs = 500
    vecs = 500
    registry = ("q27", "q84", "q103", "q107")
    tables = ("documents", "embeddings")
    # the shared tables the consumers read: q84 the semantic pairs, q103
    # the duplicated spans
    shared = ("shared:semantic_pairs", "shared:dup_spans")

    def setup(self, spark, tracer, job_group) -> None:
        from intake_spark.llm import queries as llmq

        super().setup(spark, tracer, job_group)
        specs = llmq._shared_build_specs(spark, self.data)
        for label in self.shared:
            job_group(f"setup:{label}")
            with tracer.span("shared.build", label=label):
                specs[label][1]()


def warm_python(spark) -> None:
    """Start the Python worker pool once, before any op runs."""
    def ident(batches):
        yield from batches

    n = spark.sparkContext.defaultParallelism
    spark.range(n, numPartitions=n).mapInPandas(ident, "id long").collect()


# expected top-1 datatype, and the Spark reader that must be among the
# importable recommendations, per corpus format
EXPECTED_TYPE = {"parquet": "Parquet", "csv": "CSV", "csv.gz": "CSV",
                 "json": "JSONFile", "orc": "ORC"}
EXPECTED_READER = {"parquet": "SparkParquet", "csv": "SparkCSV", "csv.gz": "SparkCSV",
                   "json": "SparkJSON", "orc": "SparkORC"}


class Misdetected(ValueError):
    """A file's top-ranked datatype is not the one its format implies."""


def detected(d: dict) -> Check:
    """Every file of directory ``d``: the expected datatype ranked first,
    its Spark reader recommended, and ``auto_pipeline`` reading it as that
    datatype."""
    want = (EXPECTED_TYPE[d["format"]], EXPECTED_READER[d["format"]])

    def check_(found):
        if len(found) != d["files"]:
            return f"{len(found)} files detected, want {d['files']}"
        for top, recommended, piped in found:
            if top != want[0] or want[1] not in recommended or piped != want[0]:
                return f"got ({top}, {recommended}, {piped}), want {want}"
        return None
    return check_


class CatalogIngest:
    """The paper's data-description layers on a generated file tree:
    detection, reader choice, corpus catalog, YAML round trip, reads,
    writes and materialization; then the curation slice on a generated
    document corpus."""

    name = "catalog_ingest"
    passes = 4
    dirs, files = 5, 8  # one directory per corpus format
    write_formats = ("csv", "csv.gz", "orc")

    def prepare(self, work: str, seed: int, rng) -> None:
        self.work = work
        self.root = os.path.join(work, "corpus")
        self.layout = gen.write_corpus(self.root, seed, self.dirs, self.files)
        sources = sorted({d["source"] for d in self.layout})
        self.term = sources[int(rng.integers(0, len(sources)))]
        self.detections = {"right": 0, "total": 0}
        self.written_bytes = self.input_bytes = 0
        self.curation = Curation()
        self.curation.prepare(work, seed, rng)

    def expect(self) -> None:
        # the corpus ops' expected values are the generator's own records
        self.curation.expect()

    def facts(self, spark) -> dict:
        """Share of files the corpus triage opened (the rest took their
        cluster's verdict), from one extra triage outside the passes."""
        from intake_spark import datatypes

        via = datatypes.recommend_corpus(spark, self.root).select("via").toPandas()["via"]
        return {"sniffed_ratio": float((via != "cluster").mean())}

    def setup(self, spark, tracer, job_group) -> None:
        from intake_spark import datatypes
        from intake_spark.session import ensure_py_deps

        datatypes.register_all()
        ensure_py_deps(spark)
        warm_python(spark)
        self.cat = None
        # writes and materialization read readable formats (the JSON-lines
        # entry fails on read, see README, and is measured there)
        by_fmt = {d["format"]: d for d in self.layout}
        self.write_dirs = [by_fmt[f] for f in self.write_formats]
        self.mat_dir = by_fmt["parquet"]
        self.pass_no = 0
        self.curation.setup(spark, tracer, job_group)

    @staticmethod
    def _entry_for(d: dict) -> str:
        # corpus_catalog names an entry <directory basename>_<extension>
        return f"{os.path.basename(d['dir'])}_{d['format']}"

    def ops(self, spark) -> list[Op]:
        from intake_spark import convert, datatypes, output, readers
        from intake_spark.catalog import open_catalog

        tr, st = self.tracer, self

        def detect(d):
            def build():
                found = []
                for i in range(d["files"]):
                    path = os.path.join(d["dir"], f"part{i}.{d['format']}")
                    with tr.span("datatypes.recommend"):
                        ranked = datatypes.recommend(url=path)
                    with tr.span("readers.recommend"):
                        rec = readers.recommend(ranked[0](url=path))
                    with tr.span("convert.auto_pipeline"):
                        pipe = convert.auto_pipeline(path)
                    found.append((ranked[0].__name__, [r.__name__ for r in rec["importable"]],
                                  type(pipe.reader.data).__name__))
                want = EXPECTED_TYPE[d["format"]]
                right = sum(f[0] == want for f in found)
                st.detections["right"] += right
                st.detections["total"] += d["files"]
                if right < d["files"]:
                    # the known misdetection: counted as a failed op
                    bad = next(f[0] for f in found if f[0] != want)
                    raise Misdetected(f"{d['dir']}: top-ranked {bad}, want {want}")
                return found
            return build

        def corpus_catalog():
            with tr.span("datatypes.corpus_catalog"):
                return datatypes.corpus_catalog(spark, self.root)

        def keep_catalog(cat):
            st.cat = cat
            return len(cat.entries)

        def roundtrip():
            path = os.path.join(self.work, f"corpus_catalog_{st.pass_no}.yaml")
            with tr.span("catalog.to_yaml"):
                st.cat.to_yaml_file(path)
            with tr.span("catalog.open"):
                opened = open_catalog(path)
            with tr.span("catalog.search"):
                hits = opened.search(self.term)
            st.cat = opened
            return len(hits.entries)

        def read(d):
            def build():
                with tr.span("catalog.rehydrate"):
                    reader = st.cat[st._entry_for(d)]
                with tr.span("readers.read"):
                    return reader.read(spark=spark)
            return build

        def count(df):
            return df.count()

        def write(d, k):
            def build():
                with tr.span("catalog.rehydrate"):
                    reader = st.cat[st._entry_for(d)]
                with tr.span("readers.read"):
                    return reader.read(spark=spark)

            def run(df):
                url = os.path.join(self.work, "out", f"p{st.pass_no}", f"w{k}")
                with tr.span("output.write"):
                    output.to_parquet(df, url)
                part = next(f for f in sorted(os.listdir(url)) if f.endswith(".parquet"))
                with tr.span("datatypes.recommend"):
                    again = datatypes.recommend(url=os.path.join(url, part))
                st.written_bytes += _du(url)
                st.input_bytes += _du(d["dir"])
                return again[0].__name__, _parquet_rows(url)
            return build, run

        def materialize(tag):
            def build():
                cache = os.path.join(self.work, "mat", f"p{st.pass_no}")
                with tr.span(f"catalog.materialize_{tag}"):
                    return st.cat.materialize(st._entry_for(self.mat_dir), cache, spark=spark)
            return build

        n_source = sum(d["source"] == self.term for d in self.layout)
        ops = [Op(f"detect:{os.path.basename(d['dir'])}", "datatypes", detect(d),
                  list, detected(d), group=0) for d in self.layout]
        ops.append(Op("corpus_catalog", "datatypes", corpus_catalog, keep_catalog,
                      equals(self.dirs), group=1))
        ops.append(Op("catalog_roundtrip", "catalog", roundtrip, lambda n: n,
                      equals(n_source), group=2))
        ops += [Op(f"read:{os.path.basename(d['dir'])}", "readers", read(d), count,
                   equals(d["rows"]), group=3) for d in self.layout]
        for k, d in enumerate(self.write_dirs):
            b, r = write(d, k)
            ops.append(Op(f"write:{k}", "output", b, r, equals(("Parquet", d["rows"])), group=4))
        ops.append(Op("materialize_miss", "catalog", materialize("miss"), count,
                      equals(self.mat_dir["rows"]), group=5))
        ops.append(Op("materialize_hit", "catalog", materialize("hit"), count,
                      equals(self.mat_dir["rows"]), group=6))
        ops += [dataclasses.replace(op, group=7) for op in self.curation.ops(spark)]
        return ops

    def start_pass(self, p: int) -> None:
        self.pass_no = p


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)


def _parquet_rows(url: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(os.path.join(url, f)).metadata.num_rows
               for f in os.listdir(url) if f.endswith(".parquet"))


WORKLOADS = {w.name: w for w in (Tabular, CatalogIngest)}
