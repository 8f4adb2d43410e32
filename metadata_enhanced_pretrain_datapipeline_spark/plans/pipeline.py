"""Pipeline composer — the reference's "list of steps" model
(fineweb/main.py:96-149) as a planner over DataFrame transformations.

What the composer adds beyond plain chaining:

1. **Exclusion sinks (K3)** — the structural feature that makes the
   reference a DAG, not a tree: every filter may route rejected rows (full
   Document shape + a rejection-reason tag) to a second sink
   (fineweb/main.py:104-140). The reference tees inside one process; here
   the kept and removed branches read one persisted upstream (SURVEY §4).
   For a Column predicate the persisted frame also carries the
   predicate's value as a flag column, so the predicate (often the most
   expensive step, e.g. the Gopher rules) runs once per row and each
   branch is a filter on the flag. Join-shaped predicates persist the
   upstream alone and derive the removed rows from it.

2. **Step ordering is preserved** — Catalyst will not reorder Python-UDF
   filters across each other, and the reference's cheap-before-expensive
   ordering (robots before ML, fineweb/main.py:96-149) is part of the
   semantics. Pure-Column predicates still get pushed/fused freely.

3. **observe() metrics (G6)** — per-step kept/removed counters replace the
   reference's per-rank stats + merge_stats job (slurm_nodes.py:199-220).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


@dataclass
class FilterStep:
    """A predicate filter with an optional exclusion sink.

    `predicate`: Column (pure, pushable) OR a callable df→df returning the
    kept rows (for join-shaped filters like id_anti_join).
    `exclusion_writer`: callable(df) invoked with the removed rows.
    `removed_fn`: for join-shaped predicates whose complement has a cheap
    direct form — e.g. the complement of a broadcast LEFT ANTI on a
    blocklist is a broadcast LEFT SEMI on the same blocklist — a callable
    df→df producing the removed rows directly. Without it the composer
    falls back to ``exceptAll(kept)``, which is correct for ANY filter
    shape but hashes every column (including text) through a full
    shuffle; at 100 TB the semi-join form is shuffle-free.
    """

    name: str
    predicate: Column | Callable[[DataFrame], DataFrame]
    exclusion_writer: Callable[[DataFrame], None] | None = None
    reason: str | None = None
    removed_fn: Callable[[DataFrame], DataFrame] | None = None


@dataclass
class MapStep:
    """A 1→1 (or 1→n via explode) transformation: callable df→df."""

    name: str
    fn: Callable[[DataFrame], DataFrame]


@dataclass
class Pipeline:
    """Compose steps into one lazy DataFrame plan; run() executes sinks.

    Mirrors the reference executor contract (pipeline list → run) minus the
    Slurm machinery: ranks are partitions, merge_stats is observe().
    """

    steps: list[FilterStep | MapStep] = field(default_factory=list)
    _persisted: list[DataFrame] = field(default_factory=list, repr=False)

    def unpersist_all(self) -> None:
        """Release upstreams persisted by run(). Call after ALL branches
        (including deferred exclusion sinks) have been consumed."""
        for p in self._persisted:
            p.unpersist()
        self._persisted.clear()

    def apply(self, df: DataFrame) -> DataFrame:
        """Pure composition — returns the kept-rows DataFrame without
        executing sinks (for tests / further composition)."""
        out = df
        for step in self.steps:
            if isinstance(step, MapStep):
                out = step.fn(out)
            elif isinstance(step.predicate, Column):
                out = out.filter(step.predicate)
            else:
                out = step.predicate(out)
        return out

    def run(self, df: DataFrame, sink: Callable[[DataFrame], None] | None = None) -> DataFrame:
        """Execute with exclusion sinks. Each step with an exclusion
        writer persists (MEMORY_AND_DISK) the frame both branches read;
        it stays cached until the caller invokes ``unpersist_all()`` —
        exclusion writers may defer their action, and unpersisting before
        both branches run would silently recompute it per branch.

        A Column predicate is persisted as a flag column,
        ``coalesce(predicate, false)``, beside the upstream's columns: the
        predicate runs once per row, kept is ``flag`` and removed is
        ``NOT flag`` (so NULL predicate rows are removed), and both drop
        the flag. Because the flag is computed once, even a
        nondeterministic predicate splits the input exactly. Invariant
        (tested): kept ∪ removed = input, disjoint."""
        out = df
        persisted = self._persisted
        for i, step in enumerate(self.steps):
            if isinstance(step, MapStep):
                out = step.fn(out)
                continue
            if step.exclusion_writer is None:
                out = (out.filter(step.predicate)
                       if isinstance(step.predicate, Column) else step.predicate(out))
                continue
            if isinstance(step.predicate, Column):
                flag = f"__keep_{i}"
                teed = out.withColumn(flag, F.coalesce(step.predicate, F.lit(False)))
                teed = teed.persist(StorageLevel.MEMORY_AND_DISK)
                persisted.append(teed)
                kept = teed.filter(F.col(flag)).drop(flag)
                removed = teed.filter(~F.col(flag)).drop(flag)
            else:
                out = out.persist(StorageLevel.MEMORY_AND_DISK)
                persisted.append(out)
                kept = step.predicate(out)
                removed = self._removed_branch(step, out, kept)
            step.exclusion_writer(removed.withColumn("reason", F.lit(step.reason or step.name)))
            out = kept
        if sink is not None:
            sink(out)
        return out

    @staticmethod
    def _removed_branch(step: FilterStep, out: DataFrame, kept: DataFrame) -> DataFrame:
        """The rows a join-shaped ``step`` rejects: the declared
        ``removed_fn`` when it has one, else ``exceptAll(kept)`` —
        correct for ANY filter shape but a full-row set-difference shuffle.
        Map-typed columns (the Document metadata) are not allowed in set
        operations — serialize to JSON for the exceptAll and decode back
        (deterministic round-trip: both sides derive from the same
        computation)."""
        if step.removed_fn is not None:
            return step.removed_fn(out)
        map_cols = {name: t for name, t in out.dtypes if t.startswith("map<")}
        if not map_cols:
            return out.exceptAll(kept.select(*out.columns))

        def ser(d):
            for name in map_cols:
                d = d.withColumn(name, F.to_json(name))
            return d

        schema_by_name = {f.name: f.dataType for f in out.schema.fields}
        removed = ser(out).exceptAll(ser(kept).select(*out.columns))
        for name in map_cols:
            removed = removed.withColumn(name, F.from_json(name, schema_by_name[name]))
        return removed

    def run_with_stats(self, df: DataFrame, sink: Callable[[DataFrame], None],
                       stats: dict[str, Column] | None = None) -> dict:
        """Execute with an attached Observation — the reference's per-rank
        stats + merge_stats job (slurm_nodes.py:199-220) collapsed into
        metrics collected during the sink action itself (G6): zero extra
        jobs, aggregated across tasks by Spark.

        Composes via ``run()`` so exclusion sinks still fire — a pipeline
        with tees must not lose its removed-rows outputs just because the
        caller also wanted metrics.
        """
        from pyspark.sql import Observation

        stats = stats or {"rows_out": F.count(F.lit(1))}
        obs = Observation("pipeline_stats")

        def observed_sink(out: DataFrame) -> None:
            sink(out.observe(obs, *[expr.alias(name) for name, expr in stats.items()]))

        self.run(df, sink=observed_sink)
        return dict(obs.get)
