"""The benchmark's workloads: inputs, operations, expected results.

A workload prepares its seeded inputs (no Spark), sets up against a
``LineageSession`` (views, warm state), and yields for each pass a fixed
list of operations. Every operation runs the way a user runs it,
through the session and its DataFrame and writer facade, and declares
the reports it must produce and the result it must return. Expected
results come from DuckDB over the same files, computed outside the
timed loop.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass, field
from typing import Any, Callable, Optional

import duckdb
import pyarrow.parquet as pq

import fixtures
import widesql

SF = 0.001
REGISTRY_DIM = "dedup_by_key_deterministic"  # first order of each customer


def result_hash(rows: list[tuple]) -> str:
    """Order-insensitive hash of result rows (integral floats as ints)."""

    def norm(v: Any) -> Any:
        if isinstance(v, float) and v.is_integer():
            return int(v)
        if isinstance(v, float):
            return round(v, 6)
        return v

    lines = sorted(repr(tuple(norm(v) for v in r)) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def _norm_path(p: str) -> str:
    return p[len("file:"):] if p.startswith("file:") else p


@dataclass
class Expect:
    """One report an operation must produce."""

    match: Callable[[dict], bool]
    tables: frozenset[str] = frozenset()  # inputs the report must name
    outputs: int = 0  # non-literal output columns that need a source


@dataclass
class Op:
    name: str
    run: Callable[[], Any]  # returns what ``check`` inspects
    reports: list[Expect] = field(default_factory=list)
    check: Optional[Callable[[Any], Optional[str]]] = None  # None = ok, else why not
    # base tables a lineage lookup must reach (its result is the set it reached)
    lineage: frozenset[str] = frozenset()
    result: Any = None


def names_in(report: dict) -> set[str]:
    """Every way an input of ``report`` can be named: its name, its
    paths, and the table files under its paths."""
    out: set[str] = set()
    for ref in report.get("inputs", []):
        if ref.get("name"):
            out.add(ref["name"].rsplit(".", 1)[-1])
        for p in ref.get("paths") or []:
            p = _norm_path(p).rstrip("/")
            out.add(p)
            out.add(os.path.dirname(p))
            base = os.path.basename(p)
            if base.endswith(".parquet"):
                out.add(base[: -len(".parquet")])
    return out


def output_key(report: dict) -> Optional[str]:
    out = report.get("output") or {}
    if out.get("paths"):
        return _norm_path(out["paths"][0]).rstrip("/")
    name = out.get("name")
    return name.rsplit(".", 1)[-1] if name else None


class WideSql:
    """``wide_sql_sf0.001``: generated wide SQL, ``eng.sql(q).collect()``."""

    name = "wide_sql_sf0.001"
    async_capture = False
    queries_per_pass = 3
    nominal_pass_s = 3.7  # median pass on a 4-core host at local[4]

    def __init__(self, seed: int, data_dir: str):
        self.seed = seed
        self.data_dir = data_dir
        self.queries = widesql.make_queries(seed, self.queries_per_pass)

    def prepare(self) -> None:
        fixtures.write_tables(fixtures.star_tables(self.seed, SF), self.data_dir)

    def setup(self, eng, tables_mod) -> None:
        tables_mod.register_views(eng.spark, self.data_dir, fixtures.STAR_TABLES)

    def warmup_ops(self, eng, setup_no: int) -> list[Op]:
        """Three passes in a fresh JVM (Catalyst's JIT warm-up is long); one
        query after a rebuild in a JVM that is warm already."""
        if setup_no > 1:
            return [self._op(eng, self.queries[0])]
        return [self._op(eng, q) for q in self.queries * 3]

    def ops(self, eng, pass_no: int) -> list[Op]:
        order = list(self.queries)
        random.Random(f"order/{self.seed}/{pass_no}").shuffle(order)
        return [self._op(eng, q) for q in order]

    def _op(self, eng, q: widesql.WideQuery) -> Op:
        def check(rows):
            got = (len(rows), result_hash([tuple(r) for r in rows]))
            want = self.expected[q.name]
            return None if got == want else f"{q.name}: rows/hash {got} != {want}"

        return Op(
            name=q.name,
            run=lambda: eng.sql(q.sql).collect(),
            reports=[Expect(
                match=lambda r: r["run"]["func_name"] == "collect" and not r.get("output"),
                tables=q.tables,
                outputs=q.outputs,
            )],
            check=check,
        )

    def compute_expected(self) -> None:
        con = duckdb.connect()
        for t in fixtures.STAR_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data_dir}/{t}.parquet')"
            )
        self.expected = {}
        for q in self.queries:
            rows = con.execute(q.sql).fetchall()
            self.expected[q.name] = (len(rows), result_hash(rows))
        con.close()

    def final_checks(self, eng) -> list[str]:
        return []

    def cleanup(self, eng) -> None:
        pass


class WriteChain:
    """``write_chain_async``: a chain of parquet hops under async capture.

    Per pass: two DataFrame hops, a streaming hop (foreachBatch through
    the session), a CTAS into a catalog table, a hop off that table, and
    one ``eng.lineage()`` lookup that walks the chain back to its source.
    """

    name = "write_chain_async"
    async_capture = True
    source_rows = 20_000
    nominal_pass_s = 3.5  # median pass on a 4-core host at local[4]

    def __init__(self, seed: int, data_dir: str, stage_dir: str):
        self.seed = seed
        self.data_dir = data_dir
        self.stage_dir = stage_dir
        self.src = os.path.join(data_dir, "chain_source")
        self.passes_run: list[int] = []
        self.tables_made: list[str] = []

    # -- inputs -------------------------------------------------------
    def prepare(self) -> None:
        tabs = fixtures.star_tables(self.seed, SF)
        fixtures.write_tables(tabs, self.data_dir)
        source = fixtures.chain_source(
            self.seed, self.source_rows, tabs["part"].num_rows, tabs["customer"].num_rows
        )
        os.makedirs(self.src, exist_ok=True)
        pq.write_table(source, os.path.join(self.src, "part-0.parquet"))

    def setup(self, eng, tables_mod) -> None:
        from spark_lineage_spark.registry import load_all
        from spark_lineage_spark.streaming.listener import LineageStreamingListener

        self.tables_mod = tables_mod
        self.spec = load_all()[REGISTRY_DIM]
        tables_mod.register_views(eng.spark, self.data_dir, ["region"])
        self.listener = LineageStreamingListener(eng.reporter, eng.app_id, eng.app_name)
        eng.spark.streams.addListener(self.listener)

    def warmup_ops(self, eng, setup_no: int) -> list[Op]:
        """Three passes of the chain in a fresh JVM; its first hop after a
        rebuild. Each in directories of its own."""
        if setup_no > 1:
            return self.ops(eng, -2 * setup_no)[:1]
        return self.ops(eng, -1) + self.ops(eng, -3) + self.ops(eng, -5)

    def base_names(self) -> frozenset[str]:
        return frozenset({self.src, "nation", "orders", "part", "region", "customer"})

    # -- one pass -----------------------------------------------------
    def paths(self, pass_no: int) -> dict[str, str]:
        d = os.path.join(self.stage_dir, f"p{pass_no}")
        return {h: os.path.join(d, h) for h in ("h1", "h2", "h3", "h5", "ckpt")} | {
            "table": f"chain_p{pass_no}" if pass_no >= 0 else f"chain_w{-pass_no}"
        }

    def ops(self, eng, pass_no: int) -> list[Op]:
        from pyspark.sql import functions as F

        self.passes_run.append(pass_no)
        p = self.paths(pass_no)
        load = lambda name: self.tables_mod.load(eng.spark, self.data_dir, name)  # noqa: E731
        spark = eng.spark

        def hop1():
            src = eng.read.parquet(self.src)
            nation = load("nation")
            src.join(nation, src["nk"] == nation["n_nationkey"]).select(
                "id", "nk", "pk", "ck", "amount", "txt", "n_regionkey"
            ).write.mode("overwrite").parquet(p["h1"])

        def hop2():
            h1 = eng.read.parquet(p["h1"])
            first = self.spec.builder(spark, self.data_dir)
            h1.join(first, h1["ck"] == first["o_custkey"], "left").select(
                "id", "nk", "pk", "ck", "amount", "txt", "n_regionkey",
                F.col("o_orderkey").alias("first_order"),
            ).write.mode("overwrite").parquet(p["h2"])

        def hop3():
            part = load("part")
            schema = spark.read.parquet(p["h2"]).schema

            def handle(batch, _epoch):
                batch.join(part, batch["pk"] == part["p_partkey"]).select(
                    "id", "nk", "pk", "ck", "amount", "txt", "n_regionkey", "first_order",
                    "p_size",
                ).write.mode("append").parquet(p["h3"])

            q = (
                spark.readStream.schema(schema).parquet(p["h2"]).writeStream
                .foreachBatch(eng.foreach_batch(handle))
                .option("checkpointLocation", p["ckpt"])
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return q.lastProgress["numInputRows"] if q.lastProgress else None

        def hop4():
            self.tables_made.append(p["table"])
            eng.sql(
                f"CREATE TABLE {p['table']} USING parquet AS "
                "SELECT h.id, h.nk, h.pk, h.ck, h.amount, h.txt, h.first_order, h.p_size, "
                f"r.r_name FROM parquet.`{p['h3']}` h JOIN region r ON h.n_regionkey = r.r_regionkey"
            )

        def hop5():
            t = eng.table(p["table"])
            cust = load("customer")
            t.join(cust, t["ck"] == cust["c_custkey"]).select(
                "id", "amount", "txt", "first_order", "p_size", "r_name", "c_mktsegment", "nk"
            ).write.mode("overwrite").parquet(p["h5"])

        def lookup():
            rows = eng.lineage().select("output", "inputs").collect()
            return walk_chain([r.asDict(recursive=True) for r in rows], p["h5"])

        def out_is(key):
            return lambda r: output_key(r) == key

        return [
            Op("hop1", hop1, [Expect(out_is(p["h1"]), frozenset({self.src, "nation"}), 7)]),
            Op("hop2", hop2, [Expect(out_is(p["h2"]), frozenset({p["h1"], "orders"}), 8)]),
            Op("hop3_stream", hop3, [
                Expect(out_is(p["h3"]), frozenset({p["h2"], "part"}), 9),
                Expect(lambda r: r["run"]["func_name"].startswith("microbatch:")),
            ], check=lambda n: None if n == self.source_rows else f"stream read {n} rows"),
            Op("hop4_ctas", hop4, [Expect(out_is(p["table"]), frozenset({p["h3"], "region"}), 9)]),
            Op("hop5", hop5, [Expect(out_is(p["h5"]), frozenset({p["table"], "customer"}), 8)]),
            Op("lineage_lookup", lookup, lineage=self.base_names()),
        ]

    # -- expected results ---------------------------------------------
    def compute_expected(self) -> None:
        """The chain again in DuckDB, one view per written output."""
        con = duckdb.connect()
        for t in ("nation", "orders", "part", "region", "customer"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data_dir}/{t}.parquet')"
            )
        con.execute(f"CREATE VIEW src AS SELECT * FROM read_parquet('{self.src}/*.parquet')")
        con.execute(f"CREATE VIEW first_order AS {self.spec.oracle}")
        con.execute("CREATE VIEW h1 AS SELECT id, nk, pk, ck, amount, txt, n_regionkey "
                    "FROM src JOIN nation ON nk = n_nationkey")
        con.execute("CREATE VIEW h2 AS SELECT id, nk, pk, ck, amount, txt, n_regionkey, "
                    "o_orderkey AS first_order FROM h1 LEFT JOIN first_order ON ck = o_custkey")
        con.execute("CREATE VIEW h3 AS SELECT id, nk, pk, ck, amount, txt, n_regionkey, "
                    "first_order, p_size FROM h2 JOIN part ON pk = p_partkey")
        con.execute("CREATE VIEW \"table\" AS SELECT id, nk, pk, ck, amount, txt, first_order, "
                    "p_size, r_name FROM h3 JOIN region ON n_regionkey = r_regionkey")
        con.execute("CREATE VIEW h5 AS SELECT id, amount, txt, first_order, p_size, r_name, "
                    "c_mktsegment, nk FROM \"table\" JOIN customer ON ck = c_custkey")
        self.con = con
        self.columns = {}
        self.expected = {}
        for key in ("h1", "h2", "h3", "table", "h5"):
            names = [d[0] for d in con.execute(f'SELECT * FROM "{key}" LIMIT 0').description]
            self.columns[key] = ", ".join(names)
            self.expected[key] = self._digest(f'"{key}"', self.columns[key])

    def _digest(self, relation: str, columns: str) -> tuple:
        """Row count and an order-insensitive hash (sum of row hashes)."""
        return self.con.execute(
            f"SELECT count(*), sum(hash({columns}))::VARCHAR FROM {relation}"
        ).fetchone()

    def final_checks(self, eng) -> list[str]:
        """Every timed pass's written files against DuckDB."""
        warehouse = _norm_path(eng.spark.conf.get("spark.sql.warehouse.dir"))
        errors = []
        for n in self.passes_run:
            if n < 0:
                continue
            p = self.paths(n)
            for key in ("h1", "h2", "h3", "table", "h5"):
                path = os.path.join(warehouse, p["table"]) if key == "table" else p[key]
                try:
                    got = self._digest(f"read_parquet('{path}/*.parquet')", self.columns[key])
                except duckdb.Error as e:
                    got = repr(e)
                if got != self.expected[key]:
                    errors.append(f"pass {n} {key}: {got} != {self.expected[key]}")
        self.con.close()
        return errors

    def cleanup(self, eng) -> None:
        for t in self.tables_made:
            eng.spark.sql(f"DROP TABLE IF EXISTS {t}")
        eng.spark.streams.removeListener(self.listener)


def walk_chain(reports: list[dict], target: str) -> set[str]:
    """Follow written outputs back from ``target`` to the inputs that no
    report wrote: the base tables the chain was built from."""
    by_out: dict[str, dict] = {}
    for r in reports:
        key = output_key(r)
        if key:
            by_out[key] = r  # the latest write of a path wins
    found: set[str] = set()
    todo, seen = [target], set()
    while todo:
        key = todo.pop()
        if key in seen:
            continue
        seen.add(key)
        report = by_out.get(key)
        if report is None:
            found.add(key)
            continue
        for ref in report.get("inputs") or []:
            paths = [_norm_path(p).rstrip("/") for p in ref.get("paths") or []]
            name = (ref.get("name") or "").rsplit(".", 1)[-1]
            if name in by_out:
                todo.append(name)
            elif paths:
                # a read names a directory, or the files in one
                for path in paths:
                    d = path if path in by_out else os.path.dirname(path)
                    if d in by_out:
                        todo.append(d)
                    else:
                        found.add(_base(path))
            elif name:
                found.add(name)
    return found


def _base(path: str) -> str:
    """A table file names its table; a directory is named by its path."""
    base = os.path.basename(path)
    return base[: -len(".parquet")] if base.endswith(".parquet") else path
