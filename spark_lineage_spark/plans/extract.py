"""Lineage extraction: read the analyzed Catalyst plan as JSON and walk
it in Python.

Both engine entry points (SQL string, DataFrame API) converge on the
same analyzed logical plan (SURVEY.md §3), so extraction is a read-only
tree walk — zero extra Spark jobs. The plan crosses py4j once, as JSON
(``_plan_json``), and the walk runs in Python; py4j calls remain only
for what the JSON drops (leaf relation metadata and field types,
write-command targets, ``LogicalRDD`` rdd ids), so they grow with the
number of leaves, not with plan size. Version-coupled to the installed
PySpark (4.1.2, classic mode); on any failure the extractor degrades to
``df.inputFiles()`` rather than failing the user's query.

Collected per report:
- inputs: leaf relations — file-based (``LogicalRelation`` over
  ``HadoopFsRelation``: paths + format), catalog/temp tables
  (``catalogTable``/``SubqueryAlias``), DSv2, streaming, local/in-memory.
- fields: each input's schema snapshot at execution time.
- column lineage: output column -> base input columns, via a bottom-up
  exprId -> {(dataset, column)} dataflow over Project/Aggregate/Window/
  Generate/Union nodes (SURVEY.md §2.12 "hardest module").
"""

from __future__ import annotations

import functools
import json
import re
from typing import Any, Optional

from pyspark import SparkContext
from pyspark.sql import DataFrame

from spark_lineage_spark.plans.model import (
    ColumnLineage,
    DatasetRef,
    FieldInfo,
    LineageReport,
    RunMetadata,
)

# ---------------------------------------------------------------------------
# checkpoint-transparent lineage
# ---------------------------------------------------------------------------

# localCheckpoint() truncates the analyzed plan to a LogicalRDD leaf, so
# a checkpointed DataFrame would report "read nothing" (Spark itself has
# forgotten). ``lineage_checkpoint`` keeps the pre-checkpoint plan keyed
# by (application id, checkpoint RDD id) — RDD ids restart at 0 per
# SparkContext — and the walk splices its inputs and column sources back
# in when it meets that LogicalRDD. Value: the analyzed-plan jobj until
# first use, then (inputs, colmap), or None. Bounded LRU: every access
# re-inserts the entry, so eviction past _CHECKPOINT_CAP pops the
# least-recently-used one, never a checkpoint still in use.
_CHECKPOINT_LINEAGE: dict[tuple[str, int], Any] = {}
_CHECKPOINT_CAP = 512


def lineage_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)`` that stays lineage-transparent.

    Records the pre-checkpoint inputs and per-output-column source sets
    under the checkpoint RDD's id so later extraction over the
    truncated plan still reports the original tables/columns. Costs
    one plan walk, the first time a report reads through the
    checkpoint; never fails the query.
    Chain-friendly: ``df.transform(lineage_checkpoint)`` (or
    ``lineage_checkpoint_lazy`` for ``eager=False``).
    """
    ckpt = df.localCheckpoint(eager)
    try:
        # store the analyzed-plan REFERENCE only; the walk runs the
        # first time a report reads through this checkpoint, so
        # operators running outside a lineage context never pay it
        analyzed = df._jdf.queryExecution().analyzed()
        rid = ckpt._jdf.queryExecution().analyzed().rdd().id()
        app = df.sparkSession.sparkContext.applicationId
        while len(_CHECKPOINT_LINEAGE) >= _CHECKPOINT_CAP:
            _CHECKPOINT_LINEAGE.pop(next(iter(_CHECKPOINT_LINEAGE)))
        _CHECKPOINT_LINEAGE[(app, rid)] = analyzed
    except Exception:
        pass  # observability must never fail the query
    return ckpt


def _resolve_checkpoint_entry(key: tuple[str, int]):
    """Resolve (and memoize) a checkpoint's recorded lineage: a stored
    plan reference becomes (inputs, colmap) on first use. Every access
    re-inserts the entry at the dict's end (LRU touch-on-access)."""
    if key not in _CHECKPOINT_LINEAGE:
        return None
    entry = _CHECKPOINT_LINEAGE.pop(key)
    if entry is None or isinstance(entry, tuple):
        _CHECKPOINT_LINEAGE[key] = entry
        return entry
    try:
        inputs, raw_cols, _ = analyze_plan(entry, _raw=True)
        resolved = (inputs, {name: set(srcs) for name, srcs in raw_cols})
    except Exception:
        resolved = None
    _CHECKPOINT_LINEAGE[key] = resolved
    return resolved


def lineage_checkpoint_lazy(df: DataFrame) -> DataFrame:
    """``lineage_checkpoint`` with ``eager=False`` (for .transform chains)."""
    return lineage_checkpoint(df, eager=False)


# ---------------------------------------------------------------------------
# the plan as a JSON tree
# ---------------------------------------------------------------------------

# A py4j reply above ~8 KiB stalls a flat ~45 ms (the gateway socket has
# TCP_NODELAY off); 4,000 chars of ASCII stay under 8 KiB even if every
# char were a backslash that py4j escapes to two.
_CHUNK = 4000
# (gateway view, (Jackson writer, StringWriter, DataType)): looked up
# once per gateway, as each py4j class lookup is a reflection round-trip
_GATEWAY: list = [None, None]


def _classes():
    jvm = SparkContext._jvm
    if _GATEWAY[0] is not jvm:
        mapper = getattr(getattr(jvm.org.json4s.jackson, "JsonMethods$"), "MODULE$").mapper()
        escape = getattr(jvm.com.fasterxml.jackson.core, "JsonGenerator$Feature").ESCAPE_NON_ASCII
        writer = getattr(mapper.writer(), "with")(escape)
        _GATEWAY[:] = [jvm, (writer, jvm.java.io.StringWriter, jvm.org.apache.spark.sql.types.DataType)]
    return _GATEWAY[1]


def _plan_json(plan) -> str:
    """``plan.toJSON()``, read back in ``_CHUNK``-char replies.

    Jackson writes the text with non-ASCII escaped (``\\uXXXX``), so it
    is pure ASCII and no chunk boundary can split a surrogate pair."""
    writer, string_writer, _ = _classes()
    out = string_writer()
    writer.writeValue(out, plan.jsonValue())
    buf = out.getBuffer()
    n = buf.length()
    return "".join(buf.substring(i, min(i + _CHUNK, n)) for i in range(0, n, _CHUNK))


class _Node:
    """A plan node of the JSON tree. ``jvm()`` gives its JVM object on
    first use: a leaf's from the root's ``collectLeaves()`` (one call
    for all leaves), any other node's from its parent's children."""

    __slots__ = ("js", "name", "kids", "jvm", "out")

    def __init__(self, js: dict, jvm):
        self.js, self.jvm, self.kids, self.out = js, jvm, [], None
        self.name = js["class"].rsplit(".", 1)[-1]


def _tree(nodes: list, jvm) -> _Node:
    """Link a pre-order ``jsonValue`` list into a tree of ``_Node``s;
    ``jvm`` returns the root's JVM object."""
    jvm = functools.cache(jvm)
    leaves = functools.cache(lambda: jvm().collectLeaves())
    root, open_nodes, n_leaves = None, [], 0
    for js in nodes:
        if not open_nodes:
            node = root = _Node(js, jvm)
        else:
            parent = open_nodes[-1]
            if js["num-children"]:
                def get(p=parent.jvm, i=len(parent.kids)):
                    return p().children().apply(i)
            else:
                def get(i=n_leaves):
                    return leaves().apply(i)
            node = _Node(js, functools.cache(get))
            parent.kids.append(node)
            if len(parent.kids) == parent.js["num-children"]:
                open_nodes.pop()
        if js["num-children"]:
            open_nodes.append(node)
        else:
            n_leaves += 1
    return root


_EXPRESSIONS = "org.apache.spark.sql.catalyst.expressions."
_ATTRIBUTE = _EXPRESSIONS + "AttributeReference"


def _children(node: _Node) -> list[_Node]:
    """Children, then ``subqueries()``: the ``plan`` of every subquery
    expression in the node's expression fields, in field order."""
    plans: list = []

    def scan(value):
        if not isinstance(value, list) or not value:
            return
        if not isinstance(value[0], dict):
            for v in value:
                scan(v)
        elif value[0].get("class", "").startswith(_EXPRESSIONS):
            plans.extend(e["plan"] for e in value if isinstance(e.get("plan"), list) and e["plan"])

    for v in node.js.values():
        scan(v)
    return node.kids + [
        _tree(p, lambda k=k: node.jvm().subqueries().apply(k)) for k, p in enumerate(plans)
    ]


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def _eid(attr: dict) -> int:
    return attr["exprId"]["id"]


def _refs(expr: list) -> set[int]:
    """``Expression.references``: the AttributeReferences of the flat
    expression list (nested plans, e.g. of subqueries, are not entered)."""
    return {_eid(e) for e in expr if e["class"] == _ATTRIBUTE}


# nodes whose output attributes are their first child's
_PASS_THROUGH = {
    "Filter", "Sort", "SubqueryAlias", "View", "Distinct", "GlobalLimit", "LocalLimit",
    "Offset", "Tail", "Sample", "Repartition", "RepartitionByExpression",
    "RebalancePartitions", "ResolvedHint", "Deduplicate", "DeduplicateWithinWatermark",
    "CollectMetrics", "EventTimeWatermark", "Intersect", "Except", "Union", "CTERelationDef",
}


def _json_output(node: _Node) -> Optional[list[dict]]:
    """``node.output()`` from the JSON, or None where the JSON cannot
    tell (an unlisted node type, or a field serialized as null)."""
    js, kids, name = node.js, node.kids, node.name
    if isinstance(js.get("output"), list):
        return [a[0] for a in js["output"]]
    if name in ("Project", "Aggregate"):
        return [e[0] for e in js["projectList" if name == "Project" else "aggregateExpressions"]]
    if name == "Window":
        return _output(kids[0]) + [e[0] for e in js["windowExpressions"]]
    if name == "Generate" and js["unrequiredChildIndex"] == []:
        return _output(kids[0]) + [a[0] for a in js["generatorOutput"]]
    if name == "Join":
        kind = js["joinType"]
        cls = kind.get("object") or kind.get("product-class") or ""
        if cls.endswith(("LeftSemi$", "LeftAnti$")):
            return _output(kids[0])
        if cls.endswith("ExistenceJoin"):
            return _output(kids[0]) + [kind["exists"][0]]
        return _output(kids[0]) + _output(kids[1])
    if name == "UnionLoop" and js["outputAttrIds"]:
        return [dict(a, exprId=i) for a, i in zip(_output(kids[0]), js["outputAttrIds"])]
    if name == "WithCTE":
        return _output(kids[js["plan"]])
    if name == "OneRowRelation":
        return []
    return _output(kids[0]) if name in _PASS_THROUGH else None


def _jvm_output(node: _Node) -> list[dict]:
    return [
        {"name": a.name(), "exprId": {"id": a.exprId().id()}, "nullable": a.nullable(),
         "dataType": json.loads(a.dataType().json())}
        for a in _seq(node.jvm().output())
    ]


def _output(node: _Node) -> list[dict]:
    """``node.output()``: the top node of each output attribute, from
    the JSON where it tells, else over py4j."""
    if node.out is None:
        out = _json_output(node)
        node.out = _jvm_output(node) if out is None else out
    return node.out


# ---------------------------------------------------------------------------
# leaves and write commands: what the JSON drops, read over py4j
# ---------------------------------------------------------------------------


def _fields_of(node: _Node, types: dict[str, str]) -> list[FieldInfo]:
    """The node's output schema; ``types`` memoizes each distinct
    type's ``simpleString``, read over py4j once."""
    try:
        out, attrs, (_, _, data_type) = [], _output(node), _classes()
        if not all("dataType" in a for a in attrs):  # an Alias: typed by its child
            attrs = _jvm_output(node)
        for a in attrs:
            key = json.dumps(a["dataType"])
            if key not in types:
                types[key] = data_type.fromJson(key).simpleString()
            out.append(FieldInfo(a["name"], types[key], a["nullable"]))
        return out
    except Exception:
        return []


def _short_name(path: str) -> str:
    base = path.rstrip("/").rsplit("/", 1)[-1]
    return base.rsplit(".", 1)[0] if "." in base else base


def _leaf_ref(node: _Node, types: dict[str, str]) -> Optional[DatasetRef]:
    """Recognize a plan leaf as a dataset reference, else None."""
    try:
        ref = _leaf_dataset(node.jvm, node.name)
    except Exception:
        return DatasetRef(kind="unknown", name=node.name)
    if ref is not None:
        ref.fields = _fields_of(node, types)
    return ref


def _or_none(get):
    """``get()``, or None when the JVM call fails."""
    try:
        return get()
    except Exception:
        return None


def _leaf_dataset(jvm, name: str) -> Optional[DatasetRef]:
    if name == "LogicalRelation":
        ct = jvm().catalogTable()
        if ct.isDefined():
            return DatasetRef(kind="table", name=ct.get().identifier().unquotedString())
        rel = jvm().relation()
        if rel.getClass().getSimpleName() == "JDBCRelation":
            # external DB read (SURVEY §2.1 jdbc scan — exercised
            # end-to-end against embedded Derby in
            # operators/sources_sinks.py::source_jdbc_roundtrip)
            tbl = _or_none(lambda: rel.jdbcOptions().tableOrQuery())
            return DatasetRef(kind="table", format="jdbc", name=tbl)
        paths = _or_none(lambda: [p.toString() for p in _seq(rel.location().rootPaths())]) or []
        fmt = _or_none(lambda: rel.fileFormat().toString().lower())
        ref_name = _short_name(paths[0]) if paths else None
        return DatasetRef(kind="path", format=fmt, name=ref_name, paths=paths)
    if name in ("DataSourceV2Relation", "DataSourceV2ScanRelation"):
        return DatasetRef(kind="table", format="v2", name=_or_none(lambda: jvm().table().name()))
    if name in ("StreamingRelation", "StreamingRelationV2", "StreamingExecutionRelation"):
        src = _or_none(lambda: jvm().sourceName())
        return DatasetRef(kind="streaming", format=src, name=src)
    if name in ("LocalRelation", "OneRowRelation", "Range"):
        return DatasetRef(kind="memory", name=name.lower())
    if name in ("HiveTableRelation", "UnresolvedCatalogRelation", "CatalogRelation"):
        ident = _or_none(lambda: jvm().tableMeta().identifier().unquotedString())
        return DatasetRef(kind="table", name=ident or name)
    return None


# DSv2 write plans don't follow the v1 *Command naming
V2_WRITE_NODES = {"CreateTableAsSelect", "ReplaceTableAsSelect", "AppendData",
                  "OverwriteByExpression", "OverwritePartitionsDynamic"}

# v1 write commands carry Insert/AsSelect/SaveInto in the class name;
# a bare *Command suffix also matches SET/SHOW/DESCRIBE/EXPLAIN etc.,
# which are metadata reads and must NOT produce write reports
# InsertIntoHiveTable carries no "Command" suffix — matched explicitly
# (embedded-Hive metastore path, exercised in tests/test_hive_lineage.py)
_WRITE_CMD_RE = re.compile(
    r"(Insert.*Command|Create.*AsSelect.*Command|SaveInto.*Command|InsertIntoHiveTable)$"
)


def is_write_command(cls_name: str) -> bool:
    return cls_name in V2_WRITE_NODES or bool(_WRITE_CMD_RE.search(cls_name))


def _command_output(cmd, name: str) -> DatasetRef:
    """A write COMMAND node's target (SURVEY §0: the reference's primary
    capture points — InsertIntoHadoopFsRelation,
    CreateDataSourceTableAsSelect, plus the DSv2 write plans)."""
    if name in V2_WRITE_NODES:
        # v2: the target rides a NamedRelation
        target = _or_none(lambda: cmd.table().name()) or _or_none(lambda: cmd.name().name())
        return DatasetRef(kind="table", format="v2", name=target or name)
    # .table() → CatalogTable on InsertIntoHiveTable / datasource
    # commands; .tableDesc() → CreateHiveTableAsSelectCommand
    ident = _or_none(lambda: cmd.table().identifier().unquotedString()) or _or_none(
        lambda: cmd.tableDesc().identifier().unquotedString())
    if ident:
        return DatasetRef(kind="table", name=ident)
    path = _or_none(lambda: cmd.outputPath().toString())
    if path:
        fmt = _or_none(lambda: cmd.fileFormat().toString().lower())
        return DatasetRef(kind="path", format=fmt, name=_short_name(path), paths=[path])
    return DatasetRef(kind="unknown", name=name)


# ---------------------------------------------------------------------------
# the walk: inputs + bottom-up exprId dataflow for column lineage
# ---------------------------------------------------------------------------


def analyze_plan(
    plan, _raw: bool = False
) -> tuple[list[DatasetRef], list, Optional[DatasetRef]]:
    """ONE tree walk producing inputs, column lineage, and (for SQL
    write commands) the output target.

    The plan crosses py4j once, as JSON; the walk runs in Python and
    calls the JVM only for leaves and write commands.
    """
    mapping: dict[int, set[tuple[str, str]]] = {}
    found: list[DatasetRef] = []
    output_ref: list[Optional[DatasetRef]] = [None]
    # CTE / recursive-CTE support: defs and loop anchors register their
    # output exprIds here; the Ref leaves bind to them POSITIONALLY
    # (a CTERelationRef / UnionLoopRef mints fresh exprIds per reference)
    cte_outs: dict[int, list[int]] = {}
    loop_outs: dict[int, list[int]] = {}
    types: dict[str, str] = {}  # simpleString per dataType JSON

    def bind_by_position(outs: list[dict], bases: list[int]) -> None:
        for a, base in zip(outs, bases):
            mapping[_eid(a)] = set(mapping.get(base, set()))

    def union_by_position(outs: list[dict], rows: list[list[set[int]]]) -> None:
        # the attr at position p takes the sources of every row's refs at p
        for pos, a in enumerate(outs):
            srcs: set[tuple[str, str]] = set()
            for row in rows:
                for r in row[pos] if pos < len(row) else ():
                    srcs |= mapping.get(r, set())
            mapping[_eid(a)] = srcs

    def outputs_of(kids: list[_Node]) -> list[list[set[int]]]:
        return [[{_eid(a)} for a in _output(k)] for k in kids]

    def walk(node: _Node, view: Optional[str] = None):
        name, js = node.name, node.js
        if name == "CommandResult" and isinstance(js.get("commandLogicalPlan"), list):
            # a later action on an executed command's DataFrame sees
            # this wrapper; the real command hangs off it
            walk(_tree(js["commandLogicalPlan"], lambda: node.jvm().commandLogicalPlan()))
            return
        if is_write_command(name):
            cmd_out = _command_output(node.jvm(), name)
            if output_ref[0] is None:
                output_ref[0] = cmd_out
            # the written query: a child index, or a plan that is not a
            # child (walked instead of the children)
            query = js.get("query")
            if isinstance(query, list):
                query = _tree(query, lambda: node.jvm().query())
            elif isinstance(query, int):
                query = node.kids[query]
            if isinstance(query, _Node):
                cmd_out.fields = cmd_out.fields or _fields_of(query, types)
                if not node.kids:
                    walk(query)
                    return
            for ch in _children(node):
                walk(ch)
            return
        if name == "SubqueryAlias":
            for ch in _children(node):
                walk(ch, js["identifier"]["name"])
            return
        if name == "CTERelationDef":
            # walk the definition, then expose its output ids for every
            # later CTERelationRef of the same cte id
            for ch in _children(node):
                walk(ch, view)
            cte_outs[js["id"]] = [_eid(a) for a in _output(node.kids[0])]
            return
        if name == "CTERelationRef":
            # leaf; the def's walk already collected its inputs
            bind_by_position(_output(node), cte_outs.get(js["cteId"], []))
            return
        if name == "UnionLoop":
            # recursive CTE body: walk the anchor FIRST so the recursive
            # branch's UnionLoopRef binds to its columns; then like Union
            kids = _children(node)
            if kids:
                walk(kids[0])
                loop_outs[js["id"]] = [_eid(a) for a in _output(kids[0])]
                for k in kids[1:]:
                    walk(k)
            union_by_position(_output(node), outputs_of(kids))
            return
        if name == "UnionLoopRef":
            # leaf; the anchor's walk already collected inputs
            bind_by_position(_output(node), loop_outs.get(js["loopId"], []))
            return
        if name == "LogicalRDD":
            # a lineage_checkpoint'ed subtree: splice the recorded
            # pre-checkpoint inputs/column sources back in
            rdd = _or_none(lambda: node.jvm().rdd())
            entry = None if rdd is None else _or_none(
                lambda: _resolve_checkpoint_entry((rdd.context().applicationId(), rdd.id())))
            if entry is not None:
                ckpt_inputs, colmap = entry
                found.extend(ckpt_inputs)
                for a in _output(node):
                    if colmap.get(a["name"]):
                        mapping[_eid(a)] = set(colmap[a["name"]])
                return
        ref = None if node.kids else _leaf_ref(node, types)
        chs = _children(node)
        if ref is None and not chs:
            # unrecognized LEAF (LogicalRDD, checkpoint scans, ...): an
            # explicit unknown, never a query that silently read nothing
            ref = DatasetRef(kind="unknown", name=name, fields=_fields_of(node, types))
        if ref is not None:
            if view and ref.kind in ("memory",):
                ref = DatasetRef(kind="table", name=view, fields=ref.fields)
            elif view and not ref.name:
                ref.name = view
            found.append(ref)
            label = ref.name or (ref.paths[0] if ref.paths else ref.kind)
            for a in _output(node):
                mapping[_eid(a)] = {(label, a["name"])}
            return
        for ch in chs:
            walk(ch)
        # after children: register this node's derived expressions
        if name == "Union":
            union_by_position(_output(node), outputs_of(node.kids))
            return
        if name == "Generate":
            # generator OUTPUT attrs (e.g. pos/col of posexplode) carry
            # no references — the source columns hang off generator()
            gen_srcs: set[tuple[str, str]] = set()
            for r in _refs(js["generator"]):
                gen_srcs |= mapping.get(r, set())
            for a in js["generatorOutput"]:
                mapping[_eid(a[0])] = set(gen_srcs)
            return
        if name == "Expand":
            # rollup/cube/grouping-sets: output attrs are FRESH exprIds
            # bound positionally to every projection row's expressions
            if js["projections"] is None:  # rows that are not Lists
                projs = [
                    [{a.exprId().id() for a in _seq(e.references().toSeq())} for e in _seq(row)]
                    for row in _seq(node.jvm().projections())
                ]
            else:
                projs = [[_refs(e) for e in row] for row in js["projections"]]
            union_by_position(_output(node), projs)
            return
        field = {"Project": "projectList", "Aggregate": "aggregateExpressions",
                 "Window": "windowExpressions"}.get(name)
        for expr in js[field] if field else ():
            if "exprId" not in expr[0]:
                continue
            srcs = mapping.setdefault(_eid(expr[0]), set())
            for r in _refs(expr):
                srcs |= mapping.get(r, set())

    root = _tree(json.loads(_plan_json(plan)), lambda: plan)
    walk(root)

    # dedupe inputs (self-joins read the same input twice — SURVEY §2.3)
    unique: dict[tuple, DatasetRef] = {}
    for r in found:
        unique.setdefault(r.key(), r)

    # _raw, for lineage_checkpoint, keeps the (dataset, column) tuples:
    # dataset labels may contain dots, so the joined string is lossy
    columns = [
        (a["name"], set(mapping.get(_eid(a), ()))) if _raw else ColumnLineage(
            output=a["name"],
            inputs=sorted(f"{ds}.{col}" for ds, col in mapping.get(_eid(a), ())))
        for a in _output(root)
    ]
    return list(unique.values()), columns, output_ref[0]


# ---------------------------------------------------------------------------
# report assembly
# ---------------------------------------------------------------------------


def extract_report(
    df: DataFrame,
    func_name: str = "",
    duration_s: float = 0.0,
    app_id: str = "",
    app_name: str = "",
    output: Optional[dict[str, Any]] = None,
    error: Optional[str] = None,
    num_output_rows: Optional[int] = None,
) -> LineageReport:
    inputs: list[DatasetRef] = []
    columns: list[ColumnLineage] = []
    command_out: Optional[DatasetRef] = None
    try:
        plan = df._jdf.queryExecution().analyzed()
        inputs, columns, command_out = analyze_plan(plan)
    except Exception:
        # degraded mode: physical input files only (still real lineage)
        try:
            files = sorted(set(df.inputFiles()))
            if files:
                inputs = [DatasetRef(kind="path", paths=files, name=_short_name(files[0]))]
        except Exception:
            pass

    out_ref = command_out  # SQL write command target, if any
    if output:
        out_ref = DatasetRef(
            kind=output.get("kind", "path"),
            format=output.get("format"),
            name=output.get("name"),
            paths=output.get("paths", []),
            fields=[FieldInfo(f.name, f.dataType.simpleString(), f.nullable) for f in df.schema.fields],
        )

    return LineageReport(
        inputs=inputs,
        output=out_ref,
        columns=columns,
        run=RunMetadata(
            app_id=app_id,
            app_name=app_name,
            func_name=func_name,
            duration_s=duration_s,
            error=error,
            num_output_rows=num_output_rows,
        ),
    )
