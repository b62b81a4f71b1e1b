"""Validation compare — the reference's `-compare` command (SURVEY §2.12
V1, compare.go:13-31, delegated there to the keyhole comparator:
doc counts + doc-level compare).

One shuffle per namespace, one Spark action per `-compare`. Both sides
are projected onto the source's sorted columns, tagged by side, unioned,
and grouped by every column; each distinct row gets its count on each
side (n_s, n_t). Summing over the groups gives

  source_count = Σ n_s            target_count = Σ n_t
  missing      = Σ max(n_s − n_t, 0)   (= |source EXCEPT ALL target|)
  extra        = Σ max(n_t − n_s, 0)   (= |target EXCEPT ALL source|)

This is the multiset difference exactly: Spark plans `exceptAll` the same
way (RewriteExceptAll: tagged union + aggregate on every column), so NULLs
group together, NaN and −0.0 are normalised and the union widens types as
`exceptAll` does. Only the counts are needed, so the row replication that
`exceptAll` adds on top is skipped. `compare_migration` builds each
namespace's per-row counts on up to `cfg.workers` driver threads at once
(reading and inferring the source, transforming it, reading the target),
then unions them, sums them per namespace and collects once, so AQE runs
all the namespaces' shuffles at the same time.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class CompareResult:
    namespace: str
    source_count: int
    target_count: int
    missing_in_target: int  # rows in source not in target
    extra_in_target: int    # rows in target not in source

    @property
    def equal(self) -> bool:
        return (
            self.source_count == self.target_count
            and self.missing_in_target == 0
            and self.extra_in_target == 0
        )


def _row_counts(source: DataFrame, target: DataFrame, i: int) -> DataFrame:
    """(i, n_s, n_t) per distinct row of `source` ∪ `target`, over the
    source's columns: how often the row occurs on each side."""
    cols = sorted(source.columns)
    s = source.select(*cols, F.lit(1).alias("__n_s"), F.lit(0).alias("__n_t"))
    t = target.select(*cols, F.lit(0).alias("__n_s"), F.lit(1).alias("__n_t"))
    return (s.union(t).groupBy(*cols)
            .agg(F.sum("__n_s").alias("__n_s"), F.sum("__n_t").alias("__n_t"))
            .select(F.lit(i).alias("i"), "__n_s", "__n_t"))


def _compare_all(namespaces: list[str], counts: list[DataFrame]
                 ) -> list[CompareResult]:
    """Sum every namespace's `_row_counts` (counts[i], tagged i) in one
    action."""
    if not counts:
        return []
    n_s, n_t = F.col("__n_s"), F.col("__n_t")
    rows = reduce(DataFrame.union, counts).groupBy("i").agg(
        F.sum(n_s), F.sum(n_t),
        F.sum(F.greatest(n_s - n_t, F.lit(0))),
        F.sum(F.greatest(n_t - n_s, F.lit(0))),
    ).collect()
    # a pair with both sides empty has no rows, hence no group
    totals = {r[0]: tuple(r[1:]) for r in rows}
    return [CompareResult(ns, *totals.get(i, (0, 0, 0, 0)))
            for i, ns in enumerate(namespaces)]


def compare_migration(spark, cfg) -> list[CompareResult]:
    """The `-compare` command (compare.go:13-31): per included namespace
    — with its filter, mask, limit, and rename applied to the source —
    verify the migrated target matches. Returns one CompareResult per
    namespace, in include order. The source is read as the copy reads
    it (`copy.read_include`), each target by `commit.read_published`,
    the rule every migration reader follows: by its schema record, with
    no schema-inference job, or without one by the union of its files'
    schemas; a target with no data file raises FileNotFoundError. Up to `cfg.workers` namespaces
    build their sides at once (`copy.side_by_side`: source read and
    inference, the include's transform, target read), each in the
    caller's job group; then one action compares them all. A namespace
    whose side cannot be built raises, the first in include order,
    after every started one has ended."""
    from hummingbird_spark.commit import read_published
    from hummingbird_spark.operators.copy import (
        read_include, resolve_includes, side_by_side,
    )
    from hummingbird_spark.sources.catalog import table_path

    includes = resolve_includes(spark, cfg)

    def counts(item):
        i, inc = item
        src, _ = read_include(spark, cfg, inc)
        path = table_path(cfg.target, inc.target_namespace)
        tgt = read_published(spark, path)
        if tgt is None:
            raise FileNotFoundError(f"no target table at {path}")
        return _row_counts(src, tgt, i)

    built = list(side_by_side(spark, cfg.workers, list(enumerate(includes)),
                              counts))
    return _compare_all([inc.namespace for inc in includes],
                        [done.result() for _, done in built])
