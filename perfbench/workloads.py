"""The benchmark's workloads.

A workload lays out its tables, builds their indexes, and then yields a
seeded stream of steps. Each step is one user-visible call into the
program (``execute``), timed on its own, followed by an untimed check:
``summarize`` reduces the result to counts and checksums, which must
equal the step's ``expected`` answer from DuckDB over the same input
files (or, for writes, from a DuckDB model the writes are replayed on).
Every key, batch and op order comes from the seed.

Set-up is split so that the benchmark's own data stays apart from the
program's: ``layout`` generates and writes the input files and prepares
the expected answers (no program call), ``build`` creates the indexes.
DuckDB runs in a child process (:class:`ModelDB`), outside the driver
process whose memory the benchmark measures.
"""

from __future__ import annotations

import itertools
import multiprocessing
import os
import time
from dataclasses import dataclass, field
from typing import Iterator, List, Optional

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import data

LOOKUP_FILES = 1000
DOC_FILES = 50
MAINT_FILES = 200
BLOOM_FPP = "0.001"
LINEITEM_INDEX = ("l_orderkey", "l_partkey", "l_returnflag", "l_shipdate")
STREAM_LEN = 600
# lookup stream: seeded shuffles of this block of kinds, so any run of
# whole blocks has the same mix
LOOKUP_BLOCK = {"point": 6, "absent": 3, "in5": 4, "term": 3,
                "absent_term": 1, "count": 3}
# a maintenance cycle: a full rebuild, then these writes in seeded order,
# so the index the run ends on has seen every kind of write
MAINT_KINDS = ("append_refresh", "delete", "update", "merge")
MERGE_ROWS = 50
# an append brings 250 new orders of 4 lines each, keyed above every
# existing and merged key and sorted, so the appended files are clustered
# like the table and the DML ops (which target keys below N_ORDERS) never
# rewrite them: each op rewrites one or two files whatever the seed
APPEND_ORDERS = 250
APPEND_KEY0 = 2 * data.N_ORDERS
MERGE_SPAN = 400  # key range the merge batch's matching keys come from

# row checksum, written once for DuckDB and once for collected rows
CHK_SQL = ("l_orderkey * 7 + l_partkey * 3 + l_suppkey + l_linenumber * 11"
           " + CAST(l_quantity AS BIGINT) * 13 + ascii(l_returnflag) * 17")


def row_chk(r) -> int:
    return (r.l_orderkey * 7 + r.l_partkey * 3 + r.l_suppkey
            + r.l_linenumber * 11 + int(r.l_quantity) * 13
            + ord(r.l_returnflag) * 17)


def lineitem_summary(rows) -> tuple:
    return (len(rows), sum(row_chk(r) for r in rows))


def _serve(conn) -> None:
    """The child-process side of :class:`ModelDB`."""
    import duckdb
    db = duckdb.connect()
    while True:
        msg = conn.recv()
        if msg is None:
            break
        sql, params, tables = msg
        try:
            for name, table in tables.items():
                db.register(name, table)
            conn.send((True, db.execute(sql, params).fetchall()))
        except Exception as e:  # raised again in the driver
            conn.send((False, f"{type(e).__name__}: {e}"))
        finally:
            for name in tables:
                db.unregister(name)
    db.close()


class ModelDB:
    """A DuckDB connection in a child process: the expected answers and
    the write model stay out of the driver's memory."""

    def __init__(self):
        mp = multiprocessing.get_context("spawn")  # no fork of JVM threads
        self._conn, child = mp.Pipe()
        self._proc = mp.Process(target=_serve, args=(child,), daemon=True)
        self._proc.start()
        child.close()

    def query(self, sql: str, params=None, **tables) -> list:
        """Rows of ``sql``; each keyword names an Arrow table the query
        can read."""
        self._conn.send((sql, params, tables))
        ok, out = self._conn.recv()
        if not ok:
            raise RuntimeError(out)
        return out

    def close(self) -> None:
        """Stop the child and wait until it has ended."""
        if self._proc is None:
            return
        try:
            self._conn.send(None)
        except OSError:  # the child is gone already
            pass
        self._proc.join(30)
        if self._proc.is_alive():
            self._proc.kill()
            self._proc.join()
        self._conn.close()
        self._proc = None
        # starting a "spawn" child also started multiprocessing's
        # resource tracker, which ignores SIGTERM and would otherwise end
        # only some time after this process has exited
        from multiprocessing import resource_tracker
        resource_tracker._resource_tracker._stop()


@dataclass
class Step:
    kind: str
    role: str                 # "op" (the workload's op) or "read"
    arg: dict
    read: bool = False        # an index read (lookup)
    expected: Optional[tuple] = None
    end_of_cycle: bool = True  # the window may end after this step
    cycle: Optional[int] = None  # writes of one cycle form one op
    info: dict = field(default_factory=dict)

    def describe(self) -> dict:
        return {"kind": self.kind, **{k: v for k, v in self.arg.items()
                                      if not k.startswith("_")}}


class Workload:
    name = ""

    def __init__(self, spark, seed: int, root: str):
        self.spark = spark
        self.seed = seed
        self.root = root
        self.rng = np.random.default_rng(seed)
        spark.conf.set("spark.sql.index.metastore",
                       os.path.join(root, "metastore"))
        spark.conf.set("spark.sql.index.parquet.filter.bloom.fpp", BLOOM_FPP)
        self.db = ModelDB()

    # table paths whose index bytes count toward index_bytes_ratio
    tables: List[str] = []

    def index_bytes_ratio(self) -> float:
        meta = data.dir_bytes(os.path.join(self.root, "metastore"))
        return meta / sum(data.data_bytes(t) for t in self.tables)

    def close(self) -> None:
        self.db.close()

    def apply_model(self, step: "Step") -> None:
        pass

    def build(self) -> float:
        """Create the indexes; returns the seconds it took."""
        from parquet_index_spark import QueryContext
        t0 = time.perf_counter()
        self.ctx = QueryContext(self.spark)
        self._build_indexes()
        return time.perf_counter() - t0

    def spark_fold(self, on: bool) -> None:
        """Force every fold onto the Spark-job route (``pruning_spark``),
        the route indexes above ``spark.sql.index.pruning.sparkThreshold``
        blocks take, or restore the default."""
        from parquet_index_spark import pruning_spark
        if on:  # below every index's block count
            self.spark.conf.set(pruning_spark.SPARK_PRUNING_THRESHOLD, "0")
        else:
            self.spark.conf.unset(pruning_spark.SPARK_PRUNING_THRESHOLD)

    def _build_lineitem(self, path: str) -> None:
        (self.ctx.index.create.mode("overwrite")
         .indexBy(*LINEITEM_INDEX).parquet(path))


class Lookups(Workload):
    """Needle lookups over a 1000-file clustered lineitem and a
    term-indexed documents table."""

    name = "needle_lookup"

    def layout(self) -> float:
        """Write both tables and plan the stream with its expected
        answers; returns the seconds spent writing files."""
        li = data.lineitem(self.rng)
        docs = data.documents(self.rng)
        self.li_path = os.path.join(self.root, "lineitem")
        self.doc_path = os.path.join(self.root, "documents")
        self.tables = [self.li_path, self.doc_path]
        t0 = time.perf_counter()
        data.write_files(li, self.li_path, LOOKUP_FILES)
        data.write_files(docs, self.doc_path, DOC_FILES)
        layout_s = time.perf_counter() - t0
        self._plan(li, docs)
        self.db.close()  # every answer is known
        return layout_s

    def _build_indexes(self) -> None:
        self._build_lineitem(self.li_path)
        (self.ctx.index.create.mode("overwrite").indexBy("doc_id")
         .termIndexBy("text").parquet(self.doc_path))

    def spark_fold_steps(self, n: int) -> List[Step]:
        """Steps replayed with the fold forced onto the Spark-job route."""
        return self.steps[:n]

    def _plan(self, li: pa.Table, docs: pa.Table) -> None:
        """Seeded op stream plus its expected answers, computed with
        DuckDB from the Parquet files just written."""
        rng = np.random.default_rng([self.seed, 1])
        keys = li.column("l_orderkey").to_numpy()
        present = np.unique(keys)
        absent = np.setdiff1d(np.arange(data.N_ORDERS), present)
        rare = data.rare_tokens(docs)
        used = {int(t[3:]) for t in rare}
        block = [k for k, n in LOOKUP_BLOCK.items() for _ in range(n)]
        kinds = [k for _ in range(STREAM_LEN // len(block))
                 for k in rng.permutation(block)]
        steps = []
        for kind in kinds:
            if kind == "point":
                arg = {"keys": [int(rng.choice(present))]}
            elif kind == "absent":
                arg = {"keys": [int(rng.choice(absent))]}
            elif kind == "in5":
                arg = {"keys": sorted(int(x) for x in
                                      rng.choice(present, 5, replace=False))}
            elif kind == "term":
                arg = {"term": rare[int(rng.integers(len(rare)))]}
            elif kind == "absent_term":
                code = int(rng.integers(data.RARE_DOMAIN))
                while code in used:
                    code = (code + 1) % data.RARE_DOMAIN
                arg = {"term": f"ref{code:06d}"}
            else:
                lo = int(rng.choice(present))
                day = np.datetime64("1995-01-01") + int(rng.integers(0, 2000))
                arg = {"lo": lo, "hi": lo + int(rng.integers(100, 1000)),
                       "flag": str(rng.choice(["A", "N", "R"])),
                       "since": f"{day} 00:00:00"}
            steps.append(Step(kind, "op", arg, read=True,
                              end_of_cycle=(len(steps) + 1) % len(block) == 0))
        self._expect(steps)
        self.steps = steps

    def _expect(self, steps: List[Step]) -> None:
        db = self.db
        db.query("CREATE TABLE li AS SELECT * FROM read_parquet(?)",
                 [os.path.join(self.li_path, "*.parquet")])
        db.query("CREATE TABLE dtok AS SELECT DISTINCT doc_id, "
                 "unnest(string_split(text, ' ')) AS tok "
                 "FROM read_parquet(?)",
                 [os.path.join(self.doc_path, "*.parquet")])
        key_rows = [(i, k) for i, s in enumerate(steps)
                    for k in s.arg.get("keys", ())]
        term_rows = [(i, s.arg["term"]) for i, s in enumerate(steps)
                     if "term" in s.arg]
        range_rows = [(i, s.arg["lo"], s.arg["hi"], s.arg["flag"],
                       s.arg["since"]) for i, s in enumerate(steps)
                      if s.kind == "count"]
        k = pa.table({"op": [r[0] for r in key_rows],
                      "key": [r[1] for r in key_rows]})
        t = pa.table({"op": [r[0] for r in term_rows],
                      "tok": [r[1] for r in term_rows]})
        r = pa.table({"op": [x[0] for x in range_rows],
                      "lo": [x[1] for x in range_rows],
                      "hi": [x[2] for x in range_rows],
                      "flag": [x[3] for x in range_rows],
                      "since": [x[4] for x in range_rows]})
        got = {}
        for op, n, s in db.query(
                f"SELECT k.op, count(li.l_orderkey), "
                f"coalesce(sum({CHK_SQL}), 0) FROM k LEFT JOIN li "
                f"ON li.l_orderkey = k.key GROUP BY k.op", k=k):
            got[op] = (int(n), int(s))
        for op, n, s in db.query(
                "SELECT t.op, count(d.doc_id), coalesce(sum(d.doc_id), 0) "
                "FROM t LEFT JOIN dtok d ON d.tok = t.tok "
                "GROUP BY t.op", t=t):
            got[op] = (int(n), int(s))
        for op, n in db.query(
                "SELECT r.op, count(li.l_orderkey) FROM r LEFT JOIN li "
                "ON li.l_orderkey BETWEEN r.lo AND r.hi "
                "AND li.l_returnflag = r.flag "
                "AND li.l_shipdate >= CAST(r.since AS TIMESTAMP) "
                "GROUP BY r.op", r=r):
            got[op] = (int(n),)
        for i, s in enumerate(steps):
            s.expected = got[i]

    def stream(self) -> Iterator[Step]:
        i = 0
        while True:
            yield self.steps[i % len(self.steps)]
            i += 1

    def warmup_steps(self, n: int) -> List[Step]:
        """``n`` steps from the end of the stream, one of each kind
        first (first metadata load of each index, first empty result)."""
        first = [next(s for s in reversed(self.steps) if s.kind == k)
                 for k in LOOKUP_BLOCK]
        return first + self.steps[-(n - len(first)):]

    def prepare(self, step: Step) -> None:
        pass

    def execute(self, step: Step):
        a = step.arg
        if "term" in a:
            t = self.ctx.index.parquet(self.doc_path)
            return (t.contains_term("text", a["term"]).select("doc_id")
                    .collect())
        t = self.ctx.index.parquet(self.li_path)
        if step.kind == "count":
            return t.count_where(
                f"l_orderkey BETWEEN {a['lo']} AND {a['hi']} "
                f"AND l_returnflag = '{a['flag']}' "
                f"AND l_shipdate >= TIMESTAMP '{a['since']}'")
        keys = a["keys"]
        pred = (f"l_orderkey = {keys[0]}" if len(keys) == 1 else
                f"l_orderkey IN ({', '.join(map(str, keys))})")
        return t.filter(pred).collect()

    def summarize(self, step: Step, result) -> tuple:
        if "term" in step.arg:
            return (len(result), sum(r.doc_id for r in result))
        if step.kind == "count":
            return (int(result),)
        return lineitem_summary(result)

    def final_checks(self) -> List[tuple]:
        return []


class Maintenance(Workload):
    """Writes beside reads on a 200-file indexed lineitem copy, replayed
    on a DuckDB model."""

    name = "index_maintenance"

    def layout(self) -> float:
        """Write the table and load the DuckDB model; returns the seconds
        spent writing files."""
        li = data.lineitem(self.rng)
        self.path = os.path.join(self.root, "lineitem")
        self.tables = [self.path]
        t0 = time.perf_counter()
        data.write_files(li, self.path, MAINT_FILES)
        layout_s = time.perf_counter() - t0
        self.db.query("CREATE TABLE m AS SELECT * FROM read_parquet(?)",
                      [os.path.join(self.path, "*.parquet")])
        self.plan_rng = np.random.default_rng([self.seed, 2])
        self.cycle = 0
        return layout_s

    def _build_indexes(self) -> None:
        self._build_lineitem(self.path)

    # -- model helpers ------------------------------------------------------
    def _expect_keys(self, keys: List[int]) -> tuple:
        (n, s), = self.db.query(
            f"SELECT count(*), coalesce(sum({CHK_SQL}), 0) FROM m "
            f"WHERE l_orderkey IN ({', '.join(map(str, keys))})")
        return (int(n), int(s))

    def _present(self, n: int, lo: int = 0,
                 hi: int = data.N_ORDERS) -> List[int]:
        """``n`` distinct keys in [lo, hi), drawn from the seed, that are
        in the table."""
        cand = [int(x) for x in self.plan_rng.integers(lo, hi, n * 4)]
        have = {int(r[0]) for r in self.db.query(
            f"SELECT DISTINCT l_orderkey FROM m WHERE l_orderkey IN "
            f"({', '.join(map(str, cand))})")}
        out = []
        for c in cand:
            if c in have and c not in out:
                out.append(c)
        return out[:n]

    # -- stream -------------------------------------------------------------
    def stream(self) -> Iterator[Step]:
        while True:
            # numbered as it starts, so that a stream left mid-way (the
            # warm-up's) never shares a number with the next one's cycle
            self.cycle += 1
            order = ["rebuild"] + [MAINT_KINDS[k] for k in
                                   self.plan_rng.permutation(len(MAINT_KINDS))]
            for j, kind in enumerate(order):
                write = Step(kind, "op", self._write_arg(kind),
                             end_of_cycle=False, cycle=self.cycle)
                yield write
                read = Step("read_after_write", "read",
                            {"after": kind, "keys": write.arg["_read"]},
                            read=True, end_of_cycle=(j == len(order) - 1),
                            cycle=self.cycle)
                read.expected = self._expect_keys(read.arg["keys"])
                yield read

    def warmup_steps(self, n: int) -> Iterator[Step]:
        """The stream's first ``n`` steps: whole cycles, so that every
        write path has run once before the window (the first write of a
        cold JVM takes seconds longer, whichever kind it is). Lazy, since
        a read's expected answer is taken after the write before it."""
        return itertools.islice(self.stream(), n)

    def spark_fold_steps(self, n: int) -> List[Step]:
        """Lookups replayed with the fold forced onto the Spark-job route."""
        keys = self._present(n)
        return [Step("read_after_write", "read", {"keys": [k]}, read=True,
                     expected=self._expect_keys([k])) for k in keys]

    def _write_arg(self, kind: str) -> dict:
        rng = self.plan_rng
        c = self.cycle
        if kind == "append_refresh":
            keys = np.repeat(APPEND_KEY0 + c * APPEND_ORDERS
                             + np.arange(APPEND_ORDERS), 4)
            batch = data.lineitem_rows(rng, len(keys), orderkeys=keys)
            return {"files": 2, "rows": batch.num_rows, "_batch": batch,
                    "_read": [int(batch.column("l_orderkey")[0].as_py())]}
        if kind == "delete":
            lo = self._present(1)[0]
            return {"lo": lo, "hi": lo + 2, "_read": [lo]}
        if kind == "update":
            k = self._present(1)[0]
            return {"key": k, "quantity": int(rng.integers(51, 100)),
                    "_read": [k]}
        if kind == "merge":
            # a CDC-style batch: its matching keys are recent neighbours,
            # so the rewrite touches one or two files
            half = MERGE_ROWS // 2
            lo = int(rng.integers(0, data.N_ORDERS - MERGE_SPAN))
            matched = self._present(half, lo, lo + MERGE_SPAN)
            new = [data.N_ORDERS + c * MERGE_ROWS + j
                   for j in range(MERGE_ROWS - len(matched))]
            batch = data.lineitem_rows(rng, MERGE_ROWS,
                                       orderkeys=np.array(matched + new))
            return {"matched": len(matched), "new": len(new),
                    "_batch": batch, "_read": [matched[0], new[0]]}
        return {"_read": self._present(1)}

    def prepare(self, step: Step) -> None:
        """Untimed: stage the merge batch as a DataFrame with the table's
        exact schema, the way a CDC batch arrives as files."""
        if step.kind in ("delete", "update", "merge"):
            files = [f for f in os.listdir(self.path)
                     if f.endswith(".parquet")]
            (rows,), = self.db.query("SELECT count(*) FROM m")
            step.info["rows_per_file"] = rows / max(1, len(files))
        if step.kind != "merge":
            return
        stage = os.path.join(self.root, f"merge-batch-{self.cycle}")
        os.makedirs(stage, exist_ok=True)
        pq.write_table(step.arg["_batch"], os.path.join(stage, "b.parquet"))
        schema = self.ctx.index.parquet(self.path).df.schema
        step.arg["_df"] = self.spark.read.schema(schema).parquet(stage)

    def execute(self, step: Step):
        from pyspark.sql import functions as F

        from parquet_index_spark import sources
        a = step.arg
        if step.kind == "read_after_write":
            keys = a["keys"]
            return (self.ctx.index.parquet(self.path)
                    .filter(f"l_orderkey IN ({', '.join(map(str, keys))})")
                    .collect())
        if step.kind == "append_refresh":
            for j in range(2):
                pq.write_table(
                    a["_batch"].slice(j * 500, 500),
                    os.path.join(self.path, f"app-{self.cycle}-{j}.parquet"))
            return self.ctx.index.refresh.parquet(self.path)
        if step.kind == "delete":
            return sources.delete_where(
                self.ctx, self.path,
                f"l_orderkey BETWEEN {a['lo']} AND {a['hi']}")
        if step.kind == "update":
            return sources.update_where(
                self.ctx, self.path, f"l_orderkey = {a['key']}",
                {"l_quantity": F.lit(float(a["quantity"]))})
        if step.kind == "merge":
            return sources.merge_into(self.ctx, self.path, a["_df"],
                                      "l_orderkey")
        return self._build_lineitem(self.path)

    def apply_model(self, step: Step) -> None:
        """Replay a successful write on the DuckDB model."""
        a, db = step.arg, self.db
        if step.kind == "append_refresh":
            db.query("INSERT INTO m SELECT * FROM b", b=a["_batch"])
        elif step.kind == "delete":
            db.query(f"DELETE FROM m WHERE l_orderkey BETWEEN {a['lo']} "
                     f"AND {a['hi']}")
        elif step.kind == "update":
            db.query(f"UPDATE m SET l_quantity = {a['quantity']} "
                     f"WHERE l_orderkey = {a['key']}")
        elif step.kind == "merge":
            db.query("DELETE FROM m WHERE l_orderkey IN "
                     "(SELECT l_orderkey FROM b)", b=a["_batch"])
            db.query("INSERT INTO m SELECT * FROM b", b=a["_batch"])
            a.pop("_df", None)

    def summarize(self, step: Step, result) -> Optional[tuple]:
        if step.role == "read":
            return lineitem_summary(result)
        return None

    def final_checks(self) -> List[tuple]:
        """The whole table through the index's scan against the model."""
        from pyspark.sql import functions as F
        df = self.ctx.index.parquet(self.path).df
        n, s = df.agg(F.count("*"), F.sum(F.expr(CHK_SQL))).first()
        want, = self.db.query(f"SELECT count(*), sum({CHK_SQL}) FROM m")
        return [("whole_table", (int(n), int(s or 0)),
                 (int(want[0]), int(want[1] or 0)))]


WORKLOADS = {w.name: w for w in (Lookups, Maintenance)}
