"""graph_txn workload: transactions, time travel and GraphQL on one
versioned store.

One client runs an operation stream in a closed loop against a
``GraphStore`` in a scratch directory. The stream is made of cycles:

- ``commit`` x3: a wish commit on ``Account`` entities; the wish kinds
  follow ``WISHES`` (E / Assign / R / Tag / Terminate);
- ``ingest``: ``commit_mapped`` of the next ``BATCH_ROWS`` event rows;
- ``read_head``: ``refresh`` of a second store handle, then
  ``now().all(Account).field("balance")``;
- ``read_asof``: the same read ``at`` a seeded past tx;
- ``read_history``: ``field_history("balance")`` of the live accounts;
- ``gql_query``, ``gql_get``, ``gql_aggregate``, ``gql_update``:
  GraphQL requests on a ``TableStore`` over the customer table;

and every cycle ends with ``compact``. ``--seconds`` sets the number of
cycles (see ``run``). The order of kinds is fixed, so
each kind meets the same segment-chain depth in every run; the seed
generates the content: accounts, values, past tx and request arguments.

Every answer is compared, outside the timed region, with a pure-Python
model of the same stream (``Model``), including answers at past tx.
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow.parquet as pq

import stats

#: accounts in the base graph
N_ACCOUNTS = 12
#: event rows per mapped batch
BATCH_ROWS = 2000
#: store set-ups per run; set-up reports their median
INGEST_REPS = 3
#: one cycle, in order
CYCLE = ["commit", "read_head", "gql_query", "commit", "read_asof",
         "gql_get", "ingest", "read_history", "gql_aggregate", "commit",
         "gql_update", "compact"]
#: the kinds of successive wish commits, repeating
WISHES = ["E", "Assign", "R", "Tag", "Terminate", "Assign", "E",
          "Assign", "Assign"]
#: the warm-up on a throwaway store: wish commits until every wish kind
#: has run, then each other kind once, in cycle order
WARMUP = (["commit"] * (WISHES.index("Terminate") + 1)
          + [k for k in dict.fromkeys(CYCLE) if k != "commit"])
#: seconds one cycle takes on 4 cores
CYCLE_S = 7.0
TAGS = ("t0", "t1", "t2")
#: the tx of the base graph: the first transaction on an empty graph
BASE_TX = 1


class CountingProtocol:
    """The default rename commit protocol, counting tx-claim attempts."""

    def __init__(self):
        from zef_spark.graph.sync import RenameCommitProtocol
        self.inner = RenameCommitProtocol()
        self.claims = 0

    def temp_segment(self, path):
        return self.inner.temp_segment(path)

    def claim(self, path, tx, seg_tmp):
        self.claims += 1
        return self.inner.claim(path, tx, seg_tmp)

    def discard(self, path, tx, seg_tmp):
        return self.inner.discard(path, tx, seg_tmp)


class Model:
    """What every read should return, kept by replaying the stream."""

    def __init__(self, tx: int, balances: dict, customers: dict):
        self.tx = tx
        self.balance = dict(balances)                 # live accounts
        self.history = {a: [[v, tx, None]] for a, v in balances.items()}
        self.snap = {tx: dict(balances)}              # tx -> balances
        self.edges: dict[int, tuple] = {}             # live Pays edges
        self.tags: dict[str, int] = {}
        self.events: list[float] = []
        self.customers = customers                    # custkey -> row

    def next_tx(self) -> int:
        self.tx += 1
        return self.tx

    def close_tx(self) -> None:
        self.snap[self.tx] = dict(self.balance)

    def apply(self, wish, receipt: dict) -> None:
        from zef_spark.graph.delta import E, R, Assign, Tag, Terminate
        tx = self.tx
        if isinstance(wish, E):
            a, v = receipt[wish.name], wish.fields["balance"]
            self.balance[a] = v
            self.history[a] = [[v, tx, None]]
        elif isinstance(wish, Assign):
            self.history[wish.target][-1][2] = tx
            self.history[wish.target].append([wish.value, tx, None])
            self.balance[wish.target] = wish.value
        elif isinstance(wish, R):
            self.edges[receipt[wish.name]] = (wish.src, wish.dst)
        elif isinstance(wish, Tag):
            self.tags[wish.name] = wish.target
        elif isinstance(wish, Terminate):
            del self.balance[wish.target]
            self.edges = {e: sd for e, sd in self.edges.items()
                          if wish.target not in sd}

    def history_rows(self) -> set:
        return {(a, v, s, e) for a in self.balance
                for v, s, e in self.history[a]}

    def gql_query(self, x: float) -> list:
        hits = sorted((c["acctbal"], k) for k, c in self.customers.items()
                      if c["acctbal"] > x)[:20]
        return [{"custkey": k, "acctbal": b,
                 "mktsegment": self.customers[k]["mktsegment"]}
                for b, k in hits]

    def gql_aggregate(self, x: float) -> dict:
        vals = [c["acctbal"] for c in self.customers.values()
                if c["acctbal"] > x]
        return {"count": len(vals), "acctbalMax": max(vals, default=None)}


class Stream:
    """One store, its GraphQL tables and the model they must match."""

    def __init__(self, ctx, base, customers, rng):
        from zef_spark.graph.sync import GraphStore
        from zef_spark.graphql import GraphQLEngine, tpch_schema
        from zef_spark.graphql.mutations import TableStore
        store, balances = base
        self.ctx, self.store, self.rng = ctx, store, rng
        self.reader = GraphStore(ctx.spark, store.path)
        self.model = Model(BASE_TX, balances,
                           {k: dict(v) for k, v in customers.items()})
        tables = {"customer": ctx.spark.read.parquet(
            os.path.join(ctx.data_dir, "customer.parquet"))}
        self.gql = GraphQLEngine(tpch_schema(), store=TableStore(tables))
        self.serial = 0
        self.depth = 0          # commits since the last compact()

    # -- operations ---------------------------------------------------

    def wish(self):
        from zef_spark import ET, RT
        from zef_spark.graph.delta import E, R, Assign, Tag, Terminate
        m, rng = self.model, self.rng
        kind = WISHES[self.serial % len(WISHES)]
        self.serial += 1
        alive = sorted(m.balance)
        untagged = [a for a in alive if a not in m.tags.values()]
        v = rng.randrange(1_000_000)
        if kind == "E" or len(untagged) < 4:
            return E(ET.Account, f"n{self.serial}", fields={"balance": v})
        if kind == "Assign":
            return Assign(rng.choice(alive), "balance", v)
        if kind == "R":
            src, dst = rng.sample(alive, 2)
            return R(src, RT.Pays, dst, name=f"r{self.serial}")
        if kind == "Tag":
            return Tag(rng.choice(TAGS), rng.choice(alive))
        return Terminate(rng.choice(untagged))

    def op(self, kind: str) -> tuple[bool, str]:
        """Run one operation; return (output correct, explanation).
        The caller times this call minus ``ctx.check_s``, the time
        spent checking outputs."""
        return getattr(self, f"_{kind}")()

    def _commit(self):
        w = self.wish()
        t = self.ctx.tracer
        claims = self.store.protocol.claims
        with self.ctx.unclocked():
            # the depth the engine's store holds; the stream's own
            # count is a cross-check, reported in the detail record
            depth = chain_depth(self.store.path)
            if depth != self.depth:
                d = self.ctx.detail
                d["chain_depth_mismatches"] = \
                    d.get("chain_depth_mismatches", 0) + 1
        with t.span("store.commit", depth=depth) as s:
            g, receipt = self.store.commit([w])
        if s is not None:
            s.attrs["attempts"] = self.store.protocol.claims - claims
        self.depth += 1
        with self.ctx.unclocked():
            m = self.model
            m.next_tx()
            m.apply(w, receipt)
            m.close_tx()
            if g.max_tx() != m.tx:
                return False, f"commit landed at tx {g.max_tx()}, " \
                              f"expected {m.tx}"
        return True, ""

    def _ingest(self):
        lo = len(self.model.events)
        batch = self.ctx.events.where(
            (self.ctx.events.event_id >= lo)
            & (self.ctx.events.event_id < lo + BATCH_ROWS)) \
            .select("event_id", "value")
        with self.ctx.tracer.span("store.commit_mapped"):
            g = self.store.commit_mapped(batch, self.ctx.event_map)
        self.depth += 1
        with self.ctx.unclocked():
            m = self.model
            m.next_tx()
            m.events.extend(self.ctx.event_values[lo:lo + BATCH_ROWS])
            m.close_tx()
            if g.max_tx() != m.tx:
                return False, f"batch landed at tx {g.max_tx()}"
        return True, ""

    def _compact(self):
        with self.ctx.tracer.span("store.compact"):
            g = self.store.compact()
        self.depth = 0
        with self.ctx.unclocked():
            self.model.next_tx()
            self.model.close_tx()
            if g.max_tx() != self.model.tx:
                return False, f"checkpoint landed at tx {g.max_tx()}"
        return True, ""

    def _read(self, frame_of, read):
        t = self.ctx.tracer
        with t.span("store.refresh"):
            g = self.reader.refresh()
        with t.span("plan"):
            df = read(frame_of(g))
        with t.span("exec"):
            return df.collect()

    def _read_head(self):
        from zef_spark import ET
        rows = self._read(lambda g: g.now(),
                          lambda f: f.all(ET.Account).field("balance"))
        with self.ctx.unclocked():
            got = {r[0]: r[1] for r in rows}
            ok = len(rows) == len(got) and got == self.model.balance
            return ok, "" if ok else f"head balances differ ({len(rows)}" \
                f" rows, {len(self.model.balance)} expected)"

    def _read_asof(self):
        from zef_spark import ET
        tx = self.rng.randint(min(self.model.snap), self.model.tx)
        rows = self._read(lambda g: g.at(tx),
                          lambda f: f.all(ET.Account).field("balance"))
        with self.ctx.unclocked():
            got = {r[0]: r[1] for r in rows}
            ok = len(rows) == len(got) and got == self.model.snap[tx]
            return ok, "" if ok else f"balances at tx {tx} differ"

    def _read_history(self):
        from zef_spark import ET
        rows = self._read(
            lambda g: g.now(),
            lambda f: f.all(ET.Account).field_history("balance"))
        with self.ctx.unclocked():
            got = {tuple(r) for r in rows}
            ok = len(rows) == len(got) and \
                got == self.model.history_rows()
            return ok, "" if ok else "balance history differs"

    def _gql(self, doc: str, rows_of):
        with self.ctx.tracer.span("gql.execute") as s:
            out = next(iter(self.gql.execute(doc).values()))
        if s is not None:
            s.attrs["rows"] = rows_of(out)
        return out

    def _cents(self) -> float:
        return self.rng.randrange(-99_999, 1_000_000) / 100.0

    def _gql_query(self):
        x = self._cents()
        got = self._gql(
            "query { queryCustomer(filter: {acctbal: {gt: %r}}, "
            "order: {asc: acctbal, then: {asc: custkey}}, first: 20) "
            "{ custkey acctbal mktsegment } }" % x, len)
        with self.ctx.unclocked():
            ok = got == self.model.gql_query(x)
            return ok, "" if ok else f"queryCustomer(acctbal > {x}) differs"

    def _gql_get(self):
        k = self.rng.randrange(len(self.model.customers))
        got = self._gql("query { getCustomer(id: %d) "
                        "{ custkey name acctbal mktsegment } }" % k,
                        lambda out: int(out is not None))
        with self.ctx.unclocked():
            c = self.model.customers[k]
            ok = got == {"custkey": k, **c}
            return ok, "" if ok else f"getCustomer({k}) differs"

    def _gql_aggregate(self):
        x = self._cents()
        got = self._gql("query { aggregateCustomer(filter: {acctbal: "
                        "{gt: %r}}) { count acctbalMax } }" % x,
                        lambda out: 1)
        with self.ctx.unclocked():
            ok = got == self.model.gql_aggregate(x)
            return ok, "" if ok else f"aggregateCustomer({x}) differs"

    def _gql_update(self):
        k = self.rng.randrange(len(self.model.customers))
        v = self._cents()
        got = self._gql("mutation { updateCustomer(input: {filter: "
                        "{id: [%d]}, set: {acctbal: %r}}) { count } }"
                        % (k, v), lambda out: out["count"])
        with self.ctx.unclocked():
            self.model.customers[k]["acctbal"] = v
            ok = got == {"count": 1}
            return ok, "" if ok else f"updateCustomer({k}) returned {got}"

    # -- final state --------------------------------------------------

    def final_check(self) -> list[str]:
        """Compare the head seen by a fresh handle with the model."""
        from pyspark.sql import functions as F
        from zef_spark import ET
        from zef_spark.graph.sync import GraphStore
        m = self.model
        g = GraphStore(self.ctx.spark, self.store.path).refresh()
        now = g.now()
        bad = []
        if g.max_tx() != m.tx:
            bad.append(f"head tx {g.max_tx()} != {m.tx}")
        bal = {r[0]: r[1] for r in
               now.all(ET.Account).field("balance").collect()}
        if bal != m.balance:
            bad.append("final balances differ")
        edges = {r[0]: (r[1], r[2]) for r in now.edges()
                 .where(F.col("rt") == "Pays")
                 .select("id", "src_id", "dst_id").collect()}
        if edges != m.edges:
            bad.append(f"{len(edges)} live Pays edges, "
                       f"{len(m.edges)} expected")
        for name, target in m.tags.items():
            ids = [r[0] for r in now.by_tag(name).df.select("id")
                   .collect()]
            if ids != [target]:
                bad.append(f"tag {name} -> {ids}, expected {target}")
        vals = sorted(r[1] for r in
                      now.all(ET.Event).field("value").collect())
        if vals != sorted(m.events):
            bad.append(f"{len(vals)} event values, "
                       f"{len(m.events)} expected")
        return bad


def chain_depth(path: str) -> int:
    """Segments in the store's tx log after its newest checkpoint: the
    chain a head rebuild replays on top of the last compacted base."""
    from zef_spark.graph.sync import _seg_dirs
    segs = _seg_dirs(path)
    last = max((i for i, (_, sp) in enumerate(segs) if os.path.exists(
        os.path.join(sp, "checkpoint.json"))), default=-1)
    return len(segs) - 1 - last


def _base_store(ctx, path: str):
    """A store whose base holds ``N_ACCOUNTS`` accounts, written at
    ``BASE_TX``; returns it with the accounts' balances by id."""
    from zef_spark import ET
    from zef_spark.graph.delta import E, empty_graph, transact
    from zef_spark.graph.sync import GraphStore
    balances = {f"a{i}": 1000 * (i + 1) for i in range(N_ACCOUNTS)}
    g, receipt = transact(empty_graph(ctx.spark), [
        E(ET.Account, name, fields={"balance": v})
        for name, v in balances.items()])
    GraphStore.init(g, path)
    return (GraphStore(ctx.spark, path, protocol=CountingProtocol()),
            {receipt[name]: v for name, v in balances.items()})


def _customers(data_dir: str) -> dict:
    t = pq.read_table(os.path.join(data_dir, "customer.parquet"),
                      columns=["c_custkey", "c_name", "c_acctbal",
                               "c_mktsegment"]).to_pydict()
    return {k: {"name": n, "acctbal": b, "mktsegment": s}
            for k, n, b, s in zip(t["c_custkey"], t["c_name"],
                                  t["c_acctbal"], t["c_mktsegment"])}


def _run_op(ctx, stream: Stream, kind: str) -> float:
    """Run and check one operation; return its latency without the
    time spent checking the output."""
    ctx.attempted += 1
    ctx.check_s = 0.0
    t0 = time.perf_counter()
    try:
        with ctx.tracer.span("op", op=len(ctx.ops), kind=kind):
            ok, why = stream.op(kind)
    except Exception as e:
        ctx.fail(kind, e)
        raise
    dt = time.perf_counter() - t0 - ctx.check_s
    if not ok:
        ctx.wrong(kind, why)
    return dt


def setup(ctx) -> None:
    import random

    from zef_spark.streaming.ingest import BatchEntityMap
    ctx.events = ctx.spark.read.parquet(
        os.path.join(ctx.data_dir, "events.parquet"))
    ctx.event_values = pq.read_table(
        os.path.join(ctx.data_dir, "events.parquet"),
        columns=["value"]).column("value").to_pylist()
    ctx.event_map = BatchEntityMap("Event", key_col="event_id",
                                   type_code=91, fields={"value": 710})
    customers = _customers(ctx.data_dir)
    stores = []
    for rep in range(INGEST_REPS):
        path = os.path.join(ctx.work, f"store-{rep}")
        t0 = time.perf_counter()
        with ctx.tracer.span("setup.ingest"):
            stores.append(_base_store(ctx, path))
        ctx.ingest_s.append(time.perf_counter() - t0)
    for store, _ in stores[1:-1]:
        shutil.rmtree(store.path)
    # warm-up: every kind of operation on a throwaway store
    t0 = time.perf_counter()
    with ctx.tracer.span("setup.warmup"):
        warm = Stream(ctx, stores[0], customers,
                      random.Random(ctx.seed ^ 0x5EED))
        for kind in WARMUP:
            _run_op(ctx, warm, kind)
    ctx.warmup_s = time.perf_counter() - t0
    shutil.rmtree(stores[0][0].path)
    ctx.stream = Stream(ctx, stores[-1], customers, ctx.rng)


def run(ctx, seconds: float) -> None:
    """Run ``round(seconds / CYCLE_S)`` whole cycles, at least two (for
    a tail percentile): a fixed amount of work per ``--seconds``."""
    stream = ctx.stream
    cycles = max(2, round(seconds / CYCLE_S))
    start = time.perf_counter()
    unclocked = 0.0
    for _ in range(cycles):
        for kind in CYCLE:
            dt = _run_op(ctx, stream, kind)
            unclocked += ctx.check_s
            ctx.ops.append((kind, dt))
    ctx.wall_s = time.perf_counter() - start - unclocked
    with ctx.tracer.span("check"):
        for why in stream.final_check():
            ctx.attempted += 1
            ctx.wrong("final_head", why)
    files, size = 0, 0
    for root, _, names in os.walk(stream.store.path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    ctx.detail.update({"cycles": cycles, "batch_rows": BATCH_ROWS,
                       "store.files_on_disk": files,
                       "store.bytes_on_disk": size})


def named(ctx, e2e: dict) -> dict:
    """graph_txn metrics by their own names: per-kind medians, tails."""
    out = {"ops_per_s": e2e["ops_per_s"]}

    def lat(*kinds):
        return [dt for k, dt in ctx.ops if k in kinds]

    for name, xs in (("commit", lat("commit")),
                     ("read", lat("read_head", "read_asof",
                                  "read_history")),
                     ("gql", lat("gql_query", "gql_get", "gql_aggregate",
                                 "gql_update"))):
        out[f"{name}_p50_s"] = stats.median(xs)
        out[f"{name}_tail_s"] = (stats.tail(xs)[0]
                                 if len(xs) >= 2 * stats.TAIL_BEYOND
                                 else None)
        out[f"{name}_samples"] = len(xs)
    out["ingest_rows_per_s"] = BATCH_ROWS / stats.median(lat("ingest"))
    return out
