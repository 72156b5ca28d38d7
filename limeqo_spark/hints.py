"""HintSet registry: the discrete plan-space levers LimeQO explores.

The reference's 49 hint columns are on/off combinations of join/scan operator
families fed to PostgreSQL (SURVEY §2B intro; README.md:11 of the reference).
Spark's levers are session confs + per-join hints; a HintSet here is an
immutable set of conf overrides plus an optional join-strategy hint applied
to every join in the query (the reference's hints are likewise query-global
knob combos, not per-operator pins — the algorithm is knob-agnostic).

Registry = 49 sets, matching the reference's matrix width exactly
(`dataset/ceb-matrix.csv` header 0..48; union-find sized "max 49 hints",
`src/data/dataset.py:196`). Hint 0 = all defaults; 1-15 the {broadcast
allowed|forbidden} x {prefer sort-merge|shuffle hash} x {AQE on|off} x
{CBO on|off} conf grid (FIXTURES.md §4); 16-48 join-strategy hints
(the hash/merge/nested-loop family analogs), broadcast-threshold levels,
shuffle-partition levels, and scan-layer knobs (pushdown / split size /
vectorized reader / codegen — the seq-scan vs index-scan analogs).
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

#: the join-strategy hint of the currently-applied HintSet. Spark only honors
#: a join hint placed on a relation that participates in a join (a hint above
#: the final Aggregate is discarded with a HintErrorLogger warning), so
#: io.table() reads this and tags every base relation — the DataFrame analog
#: of SQL's /*+ BROADCAST(t) */ attaching to table references.
_ACTIVE_JOIN_HINT: ContextVar[str | None] = ContextVar("limeqo_join_hint", default=None)


def active_join_hint() -> str | None:
    return _ACTIVE_JOIN_HINT.get()


@dataclass(frozen=True)
class HintSet:
    hint_id: int
    name: str
    confs: dict[str, str] = field(default_factory=dict)
    join_hint: str | None = None  # BROADCAST | MERGE | SHUFFLE_HASH | SHUFFLE_REPLICATE_NL


def build_registry() -> list[HintSet]:
    sets: list[HintSet] = [HintSet(0, "default")]
    hid = 1
    for bcast in (True, False):
        for smj in (True, False):
            for aqe in (True, False):
                for cbo in (True, False):
                    if bcast and smj and aqe and cbo:
                        continue  # ~= default; keep ids dense anyway
                    confs = {
                        "spark.sql.autoBroadcastJoinThreshold": "10485760" if bcast else "-1",
                        "spark.sql.join.preferSortMergeJoin": str(smj).lower(),
                        "spark.sql.adaptive.enabled": str(aqe).lower(),
                        "spark.sql.cbo.enabled": str(cbo).lower(),
                    }
                    name = (
                        f"bcast={'on' if bcast else 'off'},smj={'on' if smj else 'off'},"
                        f"aqe={'on' if aqe else 'off'},cbo={'on' if cbo else 'off'}"
                    )
                    sets.append(HintSet(hid, name, confs))
                    hid += 1

    join_hints = ("BROADCAST", "MERGE", "SHUFFLE_HASH", "SHUFFLE_REPLICATE_NL")
    aqe_off = {"spark.sql.adaptive.enabled": "false"}
    cbo_off = {"spark.sql.cbo.enabled": "false"}
    no_bcast = {"spark.sql.autoBroadcastJoinThreshold": "-1"}

    def add(name: str, confs: dict[str, str] | None = None, join_hint: str | None = None):
        nonlocal hid
        sets.append(HintSet(hid, name, dict(confs or {}), join_hint))
        hid += 1

    # 16-23: force each join-strategy family, with and without AQE re-planning
    for jh in join_hints:
        add(f"join={jh.lower()}", None, jh)
    for jh in join_hints:
        add(f"join={jh.lower()},aqe=off", aqe_off, jh)
    # 24-27: broadcast-threshold levels x sort-merge preference
    for thresh, tname in (("1024", "1k"), ("104857600", "100m")):
        for smj in ("true", "false"):
            add(
                f"bcast_thresh={tname},smj={'on' if smj == 'true' else 'off'}",
                {
                    "spark.sql.autoBroadcastJoinThreshold": thresh,
                    "spark.sql.join.preferSortMergeJoin": smj,
                },
            )
    # 28-30: shuffle-partition levels (parallelism lever)
    for parts in ("8", "64", "200"):
        add(f"shuffle_parts={parts}", {"spark.sql.shuffle.partitions": parts})
    # 31-35: scan-layer knobs (the seq-scan / index-scan family analogs)
    add("scan:no_pushdown", {"spark.sql.parquet.filterPushdown": "false"})
    add("scan:small_splits", {"spark.sql.files.maxPartitionBytes": "16777216"})
    add("scan:large_splits", {"spark.sql.files.maxPartitionBytes": "536870912"})
    add("scan:no_vectorized", {"spark.sql.parquet.enableVectorizedReader": "false"})
    add("exec:no_codegen", {"spark.sql.codegen.wholeStage": "false"})
    # 36-39: join hints under CBO off; 40-43: under low parallelism
    for jh in join_hints:
        add(f"join={jh.lower()},cbo=off", cbo_off, jh)
    for jh in join_hints:
        add(
            f"join={jh.lower()},shuffle_parts=8",
            {"spark.sql.shuffle.partitions": "8"},
            jh,
        )
    # 44-47: join hints with codegen off
    for jh in join_hints:
        add(f"join={jh.lower()},no_codegen", {"spark.sql.codegen.wholeStage": "false"}, jh)
    # 48: kitchen sink — every optimizer assist off
    add(
        "all_assists_off",
        {
            **no_bcast,
            **aqe_off,
            **cbo_off,
            "spark.sql.join.preferSortMergeJoin": "false",
            "spark.sql.codegen.wholeStage": "false",
        },
    )
    assert len(sets) == 49, len(sets)
    return sets


REGISTRY: list[HintSet] = build_registry()


@contextmanager
def applied(spark: SparkSession, hint_set: HintSet):
    """Apply a HintSet — conf overrides plus the relation-level join hint
    (picked up by io.table) — restoring prior state on exit. Queries must be
    *built* inside this context for both levers to take effect. Every key
    saved is restored on any exit, also when Spark rejects a later value."""
    saved: dict[str, str | None] = {}
    token = _ACTIVE_JOIN_HINT.set(hint_set.join_hint)
    try:
        for k, v in hint_set.confs.items():
            saved[k] = spark.conf.get(k, None)
            spark.conf.set(k, v)
        yield hint_set
    finally:
        _ACTIVE_JOIN_HINT.reset(token)
        for k, old in saved.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)
