"""dmds-core query surface: the reference's selection algebra
(``World::select`` / ``.and`` / ``.plus`` / ``.hint(s)``,
reference: src/world.rs:302-343,595-644) compiled to Spark predicates
and oracle-checked as plain SQL over the driver's `events` table.

The events table plays the role of a 2-dim world: dim 0 = ``event_id``
(unique id, src/world.rs:228-229), dim 1 = ``user_id`` (mutable
secondary dimension, readme.md:9-15 pattern). The declared domains
cover every scale factor; chunk geometry satisfies the divisibility
invariant (src/range.rs:24-30).

These queries run against the raw parquet (no partition columns), so
only the value predicate applies; the World class (dmds_spark.world)
additionally emits the partition-column predicate for pruning — same
Select AST, both targets.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dmds_spark.core.dims import DimSpec, WorldSpec
from dmds_spark.core.select import Select
from dmds_spark.queries import register
from dmds_spark.sources.registry import load_events


def events_world_spec() -> WorldSpec:
    """2-dim world over events: event_id 0..2^20-1 (ipc 4096 -> 256
    chunks), user_id 0..2047 (ipc 64 -> 32 chunks)."""
    return WorldSpec(
        dims=(
            DimSpec("event_id", 0, 2**20 - 1, 4096),
            DimSpec("user_id", 0, 2047, 64),
        )
    )


@register(
    "dmds_select_range",
    """
    SELECT event_id, user_id, event_type
    FROM events
    WHERE user_id >= 10 AND user_id <= 40
    """,
)
def dmds_select_range(spark, sf_dir):
    """``world.select(1, 10..=40)`` (reference: src/world.rs:302-329)."""
    sel = Select.dim(events_world_spec(), 1, (10, 40))
    return load_events(spark, sf_dir).filter(sel.to_predicate()).select(
        "event_id", "user_id", "event_type"
    )


@register(
    "dmds_select_and",
    """
    SELECT event_id, user_id
    FROM events
    WHERE (user_id >= 10 AND user_id <= 40)
      AND (event_id >= 1000 AND event_id <= 8000)
    """,
)
def dmds_select_and(spark, sf_dir):
    """``select(1, 10..=40).and(0, 1000..=8000)`` — box intersection
    (reference: src/world.rs:595-605 -> select.rs:273-291)."""
    sel = Select.dim(events_world_spec(), 1, (10, 40)).and_(0, (1000, 8000))
    return load_events(spark, sf_dir).filter(sel.to_predicate()).select("event_id", "user_id")


@register(
    "dmds_select_plus",
    """
    SELECT event_id, user_id
    FROM events
    WHERE (user_id >= 10 AND user_id <= 40 AND event_id >= 1000 AND event_id <= 8000)
       OR (user_id >= 90 AND user_id <= 99)
    """,
)
def dmds_select_plus(spark, sf_dir):
    """``select(1, 10..=40).and(0, ...).plus(1, 90..=99)`` — box union
    with containment dedup (reference: src/world.rs:607-614 ->
    select.rs:307-374)."""
    sel = (
        Select.dim(events_world_spec(), 1, (10, 40))
        .and_(0, (1000, 8000))
        .plus(1, (90, 99))
    )
    return load_events(spark, sf_dir).filter(sel.to_predicate()).select("event_id", "user_id")


@register(
    "dmds_select_hints",
    """
    SELECT event_id, user_id, event_type
    FROM events
    WHERE event_id IN (3, 17, 256, 999, 5000)
    """,
)
def dmds_select_hints(spark, sf_dir):
    """``select_all().hints([...])`` — id IN-list. Unlike the reference
    (hints only filter on buffered chunks, src/world/iter.rs:706-719),
    ours is a real filter: deterministic semantics, and the id chunk
    positions still prune partitions in the World path
    (SURVEY.md §4.3.3)."""
    sel = Select.all(events_world_spec()).hints([3, 17, 256, 999, 5000])
    return load_events(spark, sf_dir).filter(sel.to_predicate()).select(
        "event_id", "user_id", "event_type"
    )


@register(
    "dmds_point_get",
    """
    SELECT event_id, user_id, event_type, value
    FROM events WHERE event_id = 42
    """,
)
def dmds_point_get(spark, sf_dir):
    """Point lookup by id — ``select(0, 42..=42)``; in the World path
    this prunes to exactly one chunk (the reference's
    chunk_pos_of_data routing, src/world.rs:544-551)."""
    sel = Select.dim(events_world_spec(), 0, 42)
    return load_events(spark, sf_dir).filter(sel.to_predicate()).select(
        "event_id", "user_id", "event_type", "value"
    )


@register(
    "dmds_select_half_open",
    """
    SELECT event_id, user_id
    FROM events
    WHERE user_id >= 100 AND user_id <= 119 AND event_id < 5000
    """,
)
def dmds_select_half_open(spark, sf_dir):
    """Half-open bounds: ``select(1, 100..120).and(0, ..5000)`` — the
    reference's excluded-bound ±1 normalization (src/range.rs:112-132,
    our normalize_bounds)."""
    sel = Select.dim(events_world_spec(), 1, slice(100, 120)).and_(
        0, slice(None, 5000)
    )
    return load_events(spark, sf_dir).filter(sel.to_predicate()).select("event_id", "user_id")


@register(
    "dmds_select_empty_domain",
    """
    SELECT event_id, user_id FROM events WHERE FALSE
    """,
)
def dmds_select_empty_domain(spark, sf_dir):
    """Out-of-domain select compiles to the empty plan — the
    reference's ``Shape::None`` (src/world.rs:313-317). Catalyst folds
    ``lit(False)`` to a LocalRelation: zero I/O."""
    sel = Select.dim(events_world_spec(), 1, (5000, 6000))
    return load_events(spark, sf_dir).filter(sel.to_predicate()).select("event_id", "user_id")


def events_world_spec_3d() -> WorldSpec:
    """3-dim world over events: the reference is explicitly
    N-dimensional (src/world.rs:198-250 lattice diagrams); this spec
    adds day-of-month as a third secondary dimension (0..31, ipc 4 ->
    8 chunks; divisibility invariant src/range.rs:24-30 holds)."""
    return WorldSpec(
        dims=(
            DimSpec("event_id", 0, 2**20 - 1, 4096),
            DimSpec("user_id", 0, 2047, 64),
            DimSpec("day", 0, 31, 4),
        )
    )


@register(
    "dmds_select_3d",
    """
    SELECT event_id, user_id, CAST(date_part('day', ts) AS BIGINT) AS day
    FROM events
    WHERE (user_id >= 10 AND user_id <= 40
           AND date_part('day', ts) >= 5 AND date_part('day', ts) <= 10
           AND event_id >= 1000 AND event_id <= 200000)
       OR (user_id >= 90 AND user_id <= 99)
    """,
)
def dmds_select_3d(spark, sf_dir):
    """``select(1, 10..=40).and(2, 5..=10).and(0, 1000..=200000)
    .plus(1, 90..=99)`` on a 3-dim world — the box algebra in three
    dimensions (reference lattice: src/world.rs:198-250; and/plus:
    src/world.rs:595-614). ``plus`` appends a one-dim-restricted box
    (all other dims full range), exactly the reference's seed-select
    shape, so the union's second box constrains only user_id."""
    sel = (
        Select.dim(events_world_spec_3d(), 1, (10, 40))
        .and_(2, (5, 10))
        .and_(0, (1000, 200000))
        .plus(1, (90, 99))
    )
    ev = load_events(spark, sf_dir).withColumn(
        "day", F.dayofmonth("ts").cast("long")
    )
    return ev.filter(sel.to_predicate()).select("event_id", "user_id", "day")


@register(
    "dmds_select_hinted_box",
    """
    SELECT event_id, user_id FROM events
    WHERE (user_id >= 10 AND user_id <= 40)
      AND event_id IN (3, 17, 1024, 2048, 4096, 123456)
    """,
)
def dmds_select_hinted_box(spark, sf_dir):
    """``select(1, 10..=40).hints([...])`` — id hints layered ON TOP of
    a box selection (reference: hints accumulate in the Select and
    restrict iteration, src/world.rs:616-636). Ours compiles to box
    predicate AND id IN-list (the deterministic, buffer-independent
    variant of the reference's mem-path hint semantics, SURVEY.md
    §4.3.3); the IN-list also prunes parquet row-groups via dim-0
    min/max stats."""
    sel = Select.dim(events_world_spec(), 1, (10, 40)).hints(
        [3, 17, 1024, 2048, 4096, 123456]
    )
    return load_events(spark, sf_dir).filter(sel.to_predicate()).select(
        "event_id", "user_id"
    )
