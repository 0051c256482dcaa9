"""SparkSession factory with engine defaults.

Defaults target the test environment (``local[32]``, single JVM) but every
setting is the one we would ship on a 1000-executor cluster: AQE on
(runtime join re-planning + skew handling), shuffle partitions sized for
the data scale, Arrow enabled for the few pandas-UDF hops.

``scoped_conf`` is the one way code here changes a session conf for a
region and restores it.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Iterator, Mapping

from pyspark.sql import SparkSession

_DEFAULTS = {
    # Adaptive execution: runtime plan re-optimization, coalescing small
    # shuffle partitions, skew-join splitting. Essential at 100 TB scale.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Local testing default; on a real cluster this is set per-job from
    # data volume (target ~128-256 MB per task post-shuffle).
    "spark.sql.shuffle.partitions": "32",
    # Speculative execution (optimization round 11, guide §2.6/§7.4):
    # re-launch clear stragglers. Motivated by measurement, not taste:
    # on the round-11 sandbox, identical 0.16 s (median) numpy tasks
    # under 32-wide load showed p90 = 47 s / max = 84 s — individual
    # vCPUs starved for tens of seconds by the host — and the heavy
    # queries swung 3-8x between identical runs.  With speculation the
    # worst observed in-suite walls collapsed (kw_kernels 75 s -> 18 s,
    # jk_cox_refits 35 s -> 6 s pathological-phase; no measurable cost
    # in healthy phases at multiplier 2).  Every task in this engine is
    # an idempotent deterministic transformation, the precondition the
    # guide names.  On a real cluster this is the standard sick-node
    # mitigation; multiplier 2 (not the 1.5 default) keeps healthy-run
    # duplicate work near zero.
    "spark.speculation": "true",
    "spark.speculation.multiplier": "2",
    "spark.speculation.quantile": "0.75",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # The engine broadcasts small dimension/grid tables explicitly, but a
    # sane auto threshold helps AQE convert shuffle joins at runtime.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    "spark.ui.enabled": "false",
    # Parquet TIMESTAMP(NANOS) (e.g. the events table) is otherwise
    # unreadable; read as long and rebuild timestamps where needed
    # (sources.tpch.load_events).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def get_spark(app_name: str = "pseudoweights-calibration", **overrides: str) -> SparkSession:
    """Return (or create) a SparkSession with engine defaults applied."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    conf = dict(_DEFAULTS)
    conf.update({k: str(v) for k, v in overrides.items()})
    for key, value in conf.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


# Adaptive execution OFF for fixed-shape driver loops (optimization
# round 12, guide §1.2 driver barriers): the IRLS and Newton passes,
# the Lloyd rounds and the KW eager phases each run a fixed-shape
# aggregate or an explicitly repartitioned block pass over a cached
# projection.  AQE has nothing to re-plan there (model-sized groups,
# no joins, no skew) but splits every such action into extra
# stage-jobs with a re-optimization pass each.  Values are unaffected:
# per-group partials merge in map order at any reduce partition count
# (betas and outputs bit-identical; flagship driver jobs 39 -> 21).
AQE_OFF = {"spark.sql.adaptive.enabled": "false"}


class ConfScopeConflict(RuntimeError):
    """A scope asked for a value of a session conf key that differs
    from the value another open scope holds for it."""


@dataclass
class _OpenKey:
    spark: SparkSession  # held so id(spark) is not reused while open
    value: str
    prior: str | None  # None: the key was unset
    count: int = 0


_SCOPE_LOCK = threading.Lock()
_OPEN: dict[tuple[int, str], _OpenKey] = {}


@contextmanager
def scoped_conf(spark: SparkSession, settings: Mapping[str, object]) -> Iterator[None]:
    """Set session conf ``settings`` for the body and restore them after.

    Reentrant across threads: scopes are counted per (session, key).
    The first scope to open a key saves its prior value (or notes that
    it was unset) and sets the new one; later scopes asking for the
    same value join it; the last scope to close restores the prior
    value or unsets the key, whatever order the scopes close in.  A
    scope asking for a different value of an open key raises
    :class:`ConfScopeConflict` without changing anything.

    While a scope is open, every query the session plans sees the
    scoped value -- on every driver thread, not only the one that
    opened it."""
    items = {k: str(v) for k, v in settings.items()}
    entered: list[str] = []
    try:
        with _SCOPE_LOCK:
            for key, value in items.items():
                held = _OPEN.get((id(spark), key))
                if held is not None and held.value != value:
                    raise ConfScopeConflict(
                        f"{key}={value!r} requested while an open scope "
                        f"holds {held.value!r}"
                    )
            for key, value in items.items():
                held = _OPEN.get((id(spark), key))
                if held is None:
                    held = _OPEN[(id(spark), key)] = _OpenKey(
                        spark, value, spark.conf.get(key, None)
                    )
                held.count += 1
                entered.append(key)
                if held.count == 1:
                    spark.conf.set(key, value)
        yield
    finally:
        with _SCOPE_LOCK:
            for key in entered:
                held = _OPEN[(id(spark), key)]
                held.count -= 1
                if held.count == 0:
                    del _OPEN[(id(spark), key)]
                    if held.prior is None:
                        spark.conf.unset(key)
                    else:
                        spark.conf.set(key, held.prior)
