"""GraphSpec → DataFrame pipeline execution.

The reference executes DAGs of nodes over a shared key-value memory with
conditional edges, priorities, fan-out and terminal nodes
(GraphSpec edge.py:345-461; executor step loop executor.py:560-;
edge traversal executor.py:1607-1732).  Here the *analytics* subset of
that model is kept — nodes transform DataFrames held in a run-scoped
memory, edge predicates are safe_eval expressions over scalar memory —
and execution of each node is delegated to Spark (the reference's
GraphExecutor scheduling job is Catalyst/DAGScheduler's job now,
SURVEY §3.1).

Node ops:

- ``sql``        — run a gated SQL string (``engine.gated_df``); memory
  DataFrames are visible as temp views under their keys.
- ``filter``     — safe_eval predicate compiled to Spark SQL
  (functions/safe_eval.compile_predicate) over the input DataFrame.
- ``select``     — ``{target: source}`` projection/rename — the
  reference's input_mapping (edge.py:276-303).
- ``limit``      — row cap (result-size control, §4).
- ``union``      — fan-in by name of N input DataFrames
  (fan-in convergence, executor.py:1734-1766).
- ``scalar``     — collect a 1x1 result into memory as a Python value so
  edge predicates can branch on it (memory write, executor.py:814-819).
- ``python``     — a callable(DataFrame, memory) -> DataFrame for custom
  operators (tool registration surface, tool_registry.py:34-128).

Semantics matched: memory is write-once per key per step (last write
wins), conditional edges are evaluated against scalar memory with
failure→False (edge.py:200-204), highest-priority traversable
conditional edge wins within a group while unconditional edges always
traverse (executor.py:1717-1731), execution stops at terminal nodes, a
missing traversable edge, or ``max_steps`` (edge.py:429).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ..engine import gated_df
from ..functions.safe_eval import compile_predicate, eval_predicate


class GraphValidationError(ValueError):
    pass


@dataclass
class NodeSpec:
    id: str
    op: str
    params: dict[str, Any] = field(default_factory=dict)
    inputs: list[str] = field(default_factory=list)   # memory keys read
    output: str | None = None                         # memory key written
    fn: Callable[..., DataFrame] | None = None        # for op == 'python'
    # column-level read allowlist per input key — the reference's memory
    # permission scoping (node.py:436-452), enforced as column pruning
    # before the node body sees the DataFrame (SURVEY §2.2 mapping)
    allowed_columns: dict[str, list[str]] = field(default_factory=dict)
    # per-node retry with exponential backoff (executor.py:826-880:
    # 1s * 2^n; a retry is not a new graph step)
    retries: int = 0
    backoff_base_s: float = 1.0


@dataclass
class EdgeSpec:
    source: str
    target: str
    condition: str | None = None   # safe_eval expr over scalar memory
    priority: int = 0
    # failure-handling edge (reference on-failure edges,
    # test_on_failure_edges.py theme): taken ONLY when the source node
    # exhausts its retries; normal traversal ignores it
    on_failure: bool = False


@dataclass
class GraphSpec:
    nodes: dict[str, NodeSpec]
    edges: list[EdgeSpec]
    entry: str
    terminals: set[str] = field(default_factory=set)
    max_steps: int = 100           # edge.py:429 default

    def validate(self) -> None:
        if self.entry not in self.nodes:
            raise GraphValidationError(f"entry node missing: {self.entry}")
        for e in self.edges:
            for n in (e.source, e.target):
                if n not in self.nodes:
                    raise GraphValidationError(f"edge references missing node: {n}")
        for t in self.terminals:
            if t not in self.nodes:
                raise GraphValidationError(f"terminal missing: {t}")
        for n in self.nodes.values():
            if n.op == "python" and n.fn is None:
                raise GraphValidationError(f"python node without fn: {n.id}")


@dataclass
class ExecutionResult:
    memory: dict[str, Any]
    steps: list[str]
    completed: bool
    paused: bool = False  # stopped at a node boundary, resumable


class GraphRunner:
    """Driver-side orchestration only — every node body is a lazy
    DataFrame transformation; Spark schedules the actual work."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def execute(
        self,
        graph: GraphSpec,
        memory: dict[str, Any] | None = None,
        checkpoint_dir: str | None = None,
        pause_after: int | None = None,
    ) -> ExecutionResult:
        """Fan-out traversal: every traversable out-edge enqueues its
        target (parallel branches, executor.py:1686-1991 — branches here
        run sequentially on the driver; Spark parallelizes inside each
        node's job). A node re-runs if re-enqueued (feedback loops),
        bounded by max_steps; reaching any terminal completes the run.

        With ``checkpoint_dir``, state is persisted at every node
        boundary (scalars+cursor as JSON, DataFrames as Parquet — see
        plans/checkpoint.py), so a killed run resumes via :meth:`resume`
        from the last completed node, re-running at most the node that
        was in flight.  ``pause_after`` stops this invocation after N
        node executions (the reference's paused_at semantics,
        executor.py:719-738) and returns ``paused=True``.
        """
        graph.validate()
        store = None
        if checkpoint_dir is not None:
            from .checkpoint import CheckpointStore

            store = CheckpointStore(self.spark, checkpoint_dir)
        # a plain dict is copied (caller's dict stays untouched); any other
        # MutableMapping — e.g. shared_state.StreamMemory — is used as-is
        # so writes resolve through its scope hierarchy
        if memory is None or isinstance(memory, dict):
            memory = dict(memory or {})
        return self._run_loop(
            graph, memory, [], [graph.entry], store, pause_after
        )

    def resume(
        self,
        graph: GraphSpec,
        checkpoint_dir: str,
        pause_after: int | None = None,
    ) -> ExecutionResult:
        """Continue a checkpointed run from its cursor. The node that was
        in flight when the run stopped (if any) is still at the head of
        the persisted queue and re-runs; completed nodes do not."""
        from .checkpoint import CheckpointStore

        graph.validate()
        store = CheckpointStore(self.spark, checkpoint_dir)
        memory, steps, queue, completed = store.load()
        if completed:
            return ExecutionResult(memory, steps, True)
        return self._run_loop(graph, memory, steps, queue, store, pause_after)

    def _run_loop(
        self,
        graph: GraphSpec,
        memory: dict[str, Any],
        steps: list[str],
        queue: list[str],
        store,
        pause_after: int | None,
    ) -> ExecutionResult:
        ran_this_call = 0
        while queue and len(steps) < graph.max_steps:
            if pause_after is not None and ran_this_call >= pause_after:
                if store is not None:
                    memory = store.save(memory, steps, queue, completed=False)
                return ExecutionResult(memory, steps, False, paused=True)
            current = queue.pop(0)
            node = graph.nodes[current]
            steps.append(current)
            try:
                self._run_node(node, memory)
            except GraphValidationError:
                raise
            except Exception as exc:
                failure_edges = [
                    e for e in graph.edges
                    if e.source == current and e.on_failure
                ]
                if not failure_edges:
                    raise
                # error recorded as scalar memory so downstream predicates
                # can branch on it (executor failure-path memory writes)
                memory[f"{current}__error"] = str(exc)
                queue.extend(
                    e.target for e in failure_edges if e.target not in queue
                )
                ran_this_call += 1
                if store is not None:
                    memory = store.save(memory, steps, queue, completed=False)
                continue
            ran_this_call += 1
            if current in graph.terminals:
                if store is not None:
                    memory = store.save(memory, steps, queue, completed=True)
                return ExecutionResult(memory, steps, True)
            nxt = self._next_nodes(graph, current, memory)
            for t in nxt:
                if t not in queue:
                    queue.append(t)
            if store is not None:
                memory = store.save(memory, steps, queue, completed=False)
        completed = not queue
        if store is not None:
            memory = store.save(memory, steps, queue, completed=completed)
        return ExecutionResult(memory, steps, completed)

    # -- node ops ---------------------------------------------------------

    def _run_node(self, node: NodeSpec, memory: dict[str, Any]) -> None:
        op = getattr(self, f"_op_{node.op}", None)
        if op is None:
            raise GraphValidationError(f"unknown op: {node.op}")
        attempt = 0
        while True:
            try:
                result = op(node, memory)
                break
            except GraphValidationError:
                raise  # structural errors never retry
            except Exception:
                if attempt >= node.retries:
                    raise
                import time as _time

                _time.sleep(node.backoff_base_s * (2 ** attempt))
                attempt += 1
        if node.output is not None:
            memory[node.output] = result

    def _df_inputs(self, node: NodeSpec, memory: dict[str, Any]) -> list[DataFrame]:
        out = []
        for k in node.inputs:
            v = memory.get(k)
            if not isinstance(v, DataFrame):
                raise GraphValidationError(
                    f"node {node.id}: input {k!r} is not a DataFrame"
                )
            allowed = node.allowed_columns.get(k)
            if allowed is not None:
                v = v.select(*allowed)  # permission scoping = column pruning
            out.append(v)
        return out

    def _op_sql(self, node: NodeSpec, memory: dict[str, Any]) -> DataFrame:
        for k, v in memory.items():
            if isinstance(v, DataFrame):
                v.createOrReplaceTempView(k)
        return gated_df(self.spark, node.params["query"])

    def _op_filter(self, node: NodeSpec, memory: dict[str, Any]) -> DataFrame:
        (df,) = self._df_inputs(node, memory)
        return df.filter(compile_predicate(node.params["condition"]))

    def _op_select(self, node: NodeSpec, memory: dict[str, Any]) -> DataFrame:
        (df,) = self._df_inputs(node, memory)
        mapping: dict[str, str] = node.params["mapping"]
        if not mapping:  # empty mapping = pass-through (edge.py:291-293)
            return df
        from pyspark.sql import functions as F

        return df.select(
            *[F.col(src).alias(tgt) for tgt, src in mapping.items()]
        )

    def _op_limit(self, node: NodeSpec, memory: dict[str, Any]) -> DataFrame:
        (df,) = self._df_inputs(node, memory)
        return df.limit(int(node.params["n"]))

    def _op_union(self, node: NodeSpec, memory: dict[str, Any]) -> DataFrame:
        dfs = self._df_inputs(node, memory)
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d, allowMissingColumns=True)
        return out

    def _op_scalar(self, node: NodeSpec, memory: dict[str, Any]) -> Any:
        (df,) = self._df_inputs(node, memory)
        rows = df.limit(1).collect()
        if not rows:
            return None
        return rows[0][0]

    def _op_python(self, node: NodeSpec, memory: dict[str, Any]) -> DataFrame:
        dfs = self._df_inputs(node, memory)
        return node.fn(*dfs, memory=memory)

    # -- edge traversal ---------------------------------------------------

    def _next_nodes(
        self, graph: GraphSpec, current: str, memory: dict[str, Any]
    ) -> list[str]:
        """Traversable targets: the highest-priority satisfied conditional
        edge (one branch per conditional group, executor.py:1717-1731)
        plus ALL unconditional edges (fan-out)."""
        out_edges = [
            e for e in graph.edges if e.source == current and not e.on_failure
        ]
        if not out_edges:
            return []
        scalar_ctx = {
            k: v for k, v in memory.items() if not isinstance(v, DataFrame)
        }
        targets: list[str] = []
        conditional = sorted(
            (e for e in out_edges if e.condition is not None),
            key=lambda e: -e.priority,
        )
        for e in conditional:
            if eval_predicate(e.condition, scalar_ctx):
                targets.append(e.target)
                break
        unconditional = sorted(
            (e for e in out_edges if e.condition is None),
            key=lambda e: -e.priority,
        )
        targets.extend(
            e.target for e in unconditional if e.target not in targets
        )
        return targets


def graph_from_json(spec: dict[str, Any]) -> GraphSpec:
    """Build a GraphSpec from the JSON-ish export shape (agent.json ≈
    unresolved logical plan, SURVEY §3.1)."""
    nodes = {
        n["id"]: NodeSpec(
            id=n["id"],
            op=n["op"],
            params=n.get("params", {}),
            inputs=n.get("inputs", []),
            output=n.get("output"),
        )
        for n in spec["nodes"]
    }
    edges = [
        EdgeSpec(
            source=e["source"],
            target=e["target"],
            condition=e.get("condition"),
            priority=e.get("priority", 0),
            on_failure=e.get("on_failure", False),
        )
        for e in spec.get("edges", [])
    ]
    return GraphSpec(
        nodes=nodes,
        edges=edges,
        entry=spec["entry"],
        terminals=set(spec.get("terminals", [])),
        max_steps=spec.get("max_steps", 100),
    )
