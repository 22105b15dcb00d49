"""CutFlow — nested All/Any selection trees with 3-counter lineage metrics.

Re-imagines fast-carpenter's selection stage on Spark
(ref: fast_carpenter/selection/filters.py:158-248 combinators + tree builder;
:28-63 Counter; selection/stage.py:106-250 CutFlow / SelectPhaseSpace).

Faithful semantics:
* config: a cut string, a {reduce, formula} dict (jagged cut), or nested
  {All: [...]} / {Any: [...]} (ref: filters.py:227-248 handle_config);
* every node carries three counters — ``passed_only_cut`` (this cut alone),
  ``passed_incl`` (cumulative through this cut), ``totals_incl`` (arriving)
  — incremented exactly as the reference's All/Any loops do
  (ref: filters.py:158-192), with the root wrapped so its totals count all
  rows (ref: filters.py:196-205 OuterCounterIncrementer);
* weighted counts per named weight column (ref: weights.py:13-36).

Spark-first execution: the whole tree compiles to boolean SQL fragments,
and ALL counters for ALL nodes are one set of aggregates
(sum(CASE WHEN mask THEN w END) per node x type x weight).  Pipelines
(``CutFlowStage.apply``) attach them with ``DataFrame.observe``, so the
action that consumes the stage output also counts — the analogue of the
reference's single sweep per chunk, one scan of the input.
``counters_table`` runs them as a standalone aggregation unpivoted into the
long cutflow table (cut_id, depth, cut, count_type, weight_name, value):
the path of the registered counter queries, and the tests' reference.
Filtering uses the root mask; events are dropped (CutFlow, ref:
stage.py:219-222) or kept with a named bool column (SelectPhaseSpace,
ref: stage.py:228-250).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, functions as F

from ..expressions import compile_expression
from ..session import local_frame
from .define import Variable, compile_variable

# ---------------------------------------------------------------------------
# Selection tree
# ---------------------------------------------------------------------------


@dataclass
class Node:
    kind: str  # "single" | "reduce" | "all" | "any"
    depth: int
    cut_id: str
    name: str
    config: object = None
    children: list["Node"] = field(default_factory=list)


def parse_selection(config, depth: int = 0, cut_id: list[int] | None = None) -> Node:
    """Recursive config -> tree (ref: filters.py:227-248)."""
    cut_id = cut_id if cut_id is not None else [0]
    cid = ",".join(map(str, cut_id))
    if isinstance(config, str):
        return Node("single", depth, cid, config, config)
    if not isinstance(config, dict):
        raise ValueError("selection config must be a string or dict")
    if set(config) >= {"reduce", "formula"} and len(config) == 2:
        return Node("reduce", depth, cid, str(config), config)
    if len(config) != 1:
        raise ValueError("selection config has too many keys")
    (method, subs), = config.items()
    if method not in ("All", "Any"):
        raise ValueError(f"unknown selection combination method {method!r}")
    node = Node(method.lower(), depth, cid, method, None)
    node.children = [
        parse_selection(sub, depth + 1, cut_id + [i]) for i, sub in enumerate(subs)
    ]
    return node


@dataclass
class CounterSpec:
    """One row group of the cutflow table: a node plus its three masks.
    ``before_sql`` None means "count everything" (root totals,
    ref: filters.py:201 before=None)."""

    cut_id: str
    depth: int
    name: str
    excl_sql: str
    after_sql: str
    before_sql: str | None


def _and(a: str | None, b: str | None) -> str | None:
    if a is None:
        return b
    if b is None:
        return a
    return f"(({a}) AND ({b}))"


def _or(a: str | None, b: str | None) -> str | None:
    if a is None:
        return b
    if b is None:
        return a
    return f"(({a}) OR ({b}))"


def compile_tree(
    tree: Node,
    leaf_sql,
) -> tuple[str, list[CounterSpec]]:
    """Walk the tree mirroring the reference's All/Any evaluation order and
    emit (root_mask_sql, counter specs).  ``leaf_sql(node) -> str`` compiles
    a single/reduce leaf into a boolean SQL fragment in the target dialect.
    """
    specs: list[CounterSpec] = []

    def walk(node: Node, current_mask: str | None, combine) -> str:
        if node.kind in ("single", "reduce"):
            return leaf_sql(node)
        if node.kind == "all":
            # ref: filters.py:158-173 — children receive combine_op=safe_and;
            # current_mask composes with the *received* combine_op.
            mask = "TRUE"
            for child in node.children:
                excl = walk(child, combine(current_mask, mask), _and)
                new_mask = _and(mask, excl)
                specs.append(
                    CounterSpec(child.cut_id, child.depth, child.name,
                                excl, new_mask, mask)
                )
                mask = new_mask
            return mask
        if node.kind == "any":
            # ref: filters.py:176-192 — current_mask/combine_op pass through.
            mask = "FALSE"
            for child in node.children:
                excl = walk(child, current_mask, combine)
                new_mask = _or(mask, excl)
                after = combine(new_mask, current_mask)
                specs.append(
                    CounterSpec(child.cut_id, child.depth, child.name,
                                excl, after, current_mask)
                )
                mask = new_mask
            return mask
        raise AssertionError(node.kind)

    root_combine = _or if tree.kind == "any" else _and
    root_mask = walk(tree, None, root_combine)
    # Root wrapper (ref: filters.py:196-205): increments the WRAPPED node's
    # counters with excl=after=mask, before=None; the row keeps the wrapped
    # node's identity (cut_id "0") because OuterCounterIncrementer forwards
    # attribute access (ref: filters.py:205-208).
    root_spec = CounterSpec(tree.cut_id, tree.depth, str_name(tree), root_mask, root_mask, None)
    # Reference row order: root first, then pre-order of the tree
    # (ref: filters.py:79-84 index_values).
    ordered = [root_spec] + _preorder_specs(tree, specs)
    return root_mask, ordered


def str_name(node: Node) -> str:
    if node.kind == "all":
        return f"All: [{', '.join(repr(c.name) for c in node.children)}]"
    if node.kind == "any":
        return f"Any: [{', '.join(repr(c.name) for c in node.children)}]"
    return node.name


def _preorder_specs(tree: Node, specs: list[CounterSpec]) -> list[CounterSpec]:
    by_id = {s.cut_id: s for s in specs}
    out: list[CounterSpec] = []

    def rec(node: Node) -> None:
        for child in node.children:
            if child.cut_id in by_id:
                out.append(by_id[child.cut_id])
            rec(child)

    rec(tree)
    return out


# ---------------------------------------------------------------------------
# Leaf compilation (Spark dialect)
# ---------------------------------------------------------------------------


def spark_leaf_sql(df: DataFrame):
    """Leaf compiler against a concrete DataFrame schema: plain cuts go
    through the numexpr transpiler; {reduce, formula} cuts reuse the Define
    jagged machinery with fill_missing=False
    (ref: filters.py:129-146 ReduceSingleCut)."""

    def leaf(node: Node) -> str:
        if node.kind == "single":
            return compile_expression(node.config, valid=set(df.columns))
        cfg = node.config
        var = Variable(
            name="_cut", formula=cfg["formula"], reduce=cfg["reduce"],
            fill_missing=False,
        )
        return f"coalesce(CAST({compile_variable(df, var)} AS BOOLEAN), FALSE)"

    return leaf


# ---------------------------------------------------------------------------
# Counters as one aggregation pass
# ---------------------------------------------------------------------------

COUNT_TYPES = ("passed_only_cut", "passed_incl", "totals_incl")
_ROW_KEYS = ("cut_id", "depth", "cut", "count_type", "weight_name")


def _counters(specs, weights):
    """(spec, count_type, mask or None, weight name, weight SQL) for every
    counter, in cutflow-table row order (None mask = count everything)."""
    weight_items = [("unweighted", "1.0")] + list((weights or {}).items())
    for spec in specs:
        masks = (spec.excl_sql, spec.after_sql, spec.before_sql)
        for ctype, mask in zip(COUNT_TYPES, masks):
            for wname, wsql in weight_items:
                yield spec, ctype, mask, wname, f"CAST({wsql} AS DOUBLE)"


def counter_agg_exprs(specs, weights: dict[str, str] | None = None):
    """(agg Columns, meta rows (colname, *_ROW_KEYS)) for the 3-counter
    protocol — shared by counters_table and observe_counters."""
    aggs, meta = [], []
    for spec, ctype, mask, wname, w in _counters(specs, weights):
        col = f"_c{len(meta)}"
        agg = f"sum({w})" if mask is None else f"sum(CASE WHEN {mask} THEN {w} ELSE 0.0 END)"
        aggs.append(F.expr(agg).alias(col))
        meta.append((col, spec.cut_id, spec.depth, spec.name, ctype, wname))
    return aggs, meta


def counters_table(
    df: DataFrame,
    specs: list[CounterSpec],
    weights: dict[str, str] | None = None,
) -> DataFrame:
    """Long-format cutflow table in a single aggregation.

    Output schema: (cut_id, depth, cut, count_type, weight_name,
    value: double) — the flat equivalent of the reference's MultiIndex CSV
    (ref: filters.py:92-105 columns/to_dataframe).
    """
    aggs, meta = counter_agg_exprs(specs, weights)
    long = df.groupBy().agg(*aggs).unpivot(
        ids=[], values=[m[0] for m in meta],
        variableColumnName="_key", valueColumnName="value",
    )
    meta_df = local_frame(
        df.sparkSession, meta,
        "_key string, cut_id string, depth int, cut string, "
        "count_type string, weight_name string",
    )
    out = long.join(F.broadcast(meta_df), "_key")
    return out.select(*_ROW_KEYS, F.coalesce("value", F.lit(0.0)).alias("value"))


def observe_counters(df: DataFrame, specs: list[CounterSpec], weights=None):
    """Attach the counter aggregates to ``df`` through an unnamed
    ``Observation``, so same-named stages of two datasets can share one
    plan.  Returns (observed_df, fetch): ``fetch()`` gives counters_table's
    rows as dicts once an action that consumed observed_df has finished,
    and raises ValueError before that."""
    aggs, meta = counter_agg_exprs(specs, weights)
    obs = Observation()
    observed = df.observe(obs, *aggs)
    bus = df.sparkSession.sparkContext._jsc.sc().listenerBus()

    def fetch() -> list[dict]:
        done = obs._jo.future().isCompleted
        if not done():
            # completed by the listener event posted as the action ends:
            # drain the bus so an action that has finished is always seen
            bus.waitUntilEmpty()
        if not done():
            raise ValueError(
                "cutflow counters come from the action that consumes the "
                "stage output; run one (e.g. a write) before reading them"
            )
        got = obs.get
        return [dict(zip(_ROW_KEYS, m[1:]), value=float(got[m[0]] or 0.0)) for m in meta]

    return observed, fetch


def oracle_counters_sql(
    specs: list[CounterSpec],
    input_sql: str,
    weights: dict[str, str] | None = None,
) -> str:
    """DuckDB oracle: the same table as UNION ALL of SUM(CASE...) selects.
    ``specs`` must be compiled with duck-dialect leaf SQL."""
    selects = []
    for spec, ctype, mask, wname, w in _counters(specs, weights):
        agg = f"SUM({w})" if mask is None else f"SUM(CASE WHEN {mask} THEN {w} ELSE 0.0 END)"
        name_lit = spec.name.replace("'", "''")
        selects.append(
            f"SELECT '{spec.cut_id}' AS cut_id, "
            f"CAST({spec.depth} AS INT) AS depth, '{name_lit}' AS cut, "
            f"'{ctype}' AS count_type, '{wname}' AS weight_name, "
            f"COALESCE({agg}, 0.0) AS value FROM ({input_sql})"
        )
    return "\nUNION ALL\n".join(selects)


# ---------------------------------------------------------------------------
# Stages
# ---------------------------------------------------------------------------


@dataclass
class CutFlowStage:
    """Destructive selection: events failing the tree are dropped
    (ref: selection/stage.py:219-222 tree.apply_mask)."""

    name: str
    selection: object
    weights: dict[str, str] = field(default_factory=dict)
    is_mc: bool = True

    def __post_init__(self):
        self.tree = parse_selection(self.selection)
        self._fetch_counters = None  # set by apply(); see observe_counters

    def _weights(self) -> dict[str, str]:
        # weights apply to MC only; data datasets count unweighted (the
        # weighted columns then equal the unweighted counts), ref:
        # selection/filters.py:48 `if not self._weight_names or not is_mc`
        if self.is_mc:
            return self.weights
        return {wname: "1.0" for wname in self.weights}

    def compile(self, df: DataFrame) -> tuple[str, list[CounterSpec]]:
        return compile_tree(self.tree, spark_leaf_sql(df))

    def counters(self, df: DataFrame) -> DataFrame:
        _, specs = self.compile(df)
        return counters_table(df, specs, self._weights())

    def apply(self, df: DataFrame) -> DataFrame:
        """Filter on the root mask.  The counters are observed on the input,
        BEFORE the filter (masked-not-dropped totals, ref:
        tree_adapter.py:574-600), by whichever action consumes the output."""
        root_mask, specs = self.compile(df)
        observed, self._fetch_counters = observe_counters(df, specs, self._weights())
        return observed.filter(F.expr(root_mask))


@dataclass
class SelectPhaseSpaceStage:
    """Non-destructive selection: the tree's mask becomes a named bool
    column, events are kept (ref: selection/stage.py:228-250)."""

    name: str
    selection: object
    region_name: str

    def __post_init__(self):
        self.tree = parse_selection(self.selection)

    def apply(self, df: DataFrame) -> DataFrame:
        if self.region_name in df.columns:
            raise ValueError(f"region {self.region_name!r} already exists")
        root_mask, _ = compile_tree(self.tree, spark_leaf_sql(df))
        return df.withColumn(self.region_name, F.expr(root_mask))

