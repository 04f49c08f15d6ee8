"""Dimension math: the pure-Python mirror of the reference's
``DimMapping`` (reference: src/range.rs:5-77) and ``Dim``/``World::new``
validation (src/world.rs:269-292,445-455).

This is the planner's arithmetic core — no Spark imports. Python ints
are arbitrary precision, so the full u64 domain of the reference
(src/range.rs:129 normalizes unbounded ends to u64::MAX) is exact here;
only at the DataFrame boundary do we require values < 2**63 (Spark
LongType), a validated restriction (SURVEY.md §7).
"""

from __future__ import annotations

from dataclasses import dataclass

from dmds_spark.core.errors import ValueOutOfRangeError, WorldSpecError

U64_MAX = 2**64 - 1
LONG_MAX = 2**63 - 1

# Bound spec accepted everywhere a range is taken, mirroring the
# reference's SelectBounds impls (src/world.rs:372-414):
#   42              -> point (42..=42)
#   (lo, hi)        -> inclusive lo..=hi
#   slice(lo, hi)   -> half-open lo..hi   (hi exclusive, like Rust a..b)
#   (None, hi)      -> ..=hi ; (lo, None) -> lo.. ; (None, None) -> ..
BoundsLike = "int | tuple | slice | None"


def normalize_bounds(bounds) -> tuple[int, int]:
    """Normalize any accepted bound syntax to a closed interval
    ``(lo, hi)`` — the reference's ``Wrapper`` conversion
    (src/range.rs:112-132): unbounded start -> 0, unbounded end ->
    u64::MAX, excluded bounds shifted by one."""
    if bounds is None:
        return (0, U64_MAX)
    if isinstance(bounds, int):
        return (bounds, bounds)
    if isinstance(bounds, slice):
        if bounds.step is not None:
            raise ValueError("stepped ranges are not part of the algebra")
        lo = 0 if bounds.start is None else int(bounds.start)
        hi = U64_MAX if bounds.stop is None else int(bounds.stop) - 1
        return (lo, hi)
    if isinstance(bounds, tuple) and len(bounds) == 2:
        lo = 0 if bounds[0] is None else int(bounds[0])
        hi = U64_MAX if bounds[1] is None else int(bounds[1])
        return (lo, hi)
    raise TypeError(f"unsupported bounds spec: {bounds!r}")


@dataclass(frozen=True)
class DimSpec:
    """One dimension of a world: closed value range [start, end] split
    into equal-width chunks of ``items_per_chunk`` values each
    (reference: src/range.rs:5-37 ``DimMapping::new``).

    ``name`` is the DataFrame column this dimension binds to (the
    reference has no column names — dims are positional u64s; naming is
    our DataFrame-native extension).

    ``u64=True`` opts the dimension into the reference's FULL u64
    domain (src/range.rs:129 normalizes unbounded ends to u64::MAX):
    the DataFrame column becomes DECIMAL(20,0) — exact over
    [0, 2^64) — instead of LongType, and every planner literal /
    chunk-routing expression is emitted in exact decimal arithmetic.
    The planner math in this module is Python-int exact either way;
    the flag only widens the COLUMN domain. Constraints: start >= 0,
    end <= u64::MAX, and the chunk-index space must still fit a long
    (chunk indices, partition columns, and pruning predicates stay
    LongType on either path)."""

    name: str
    start: int
    end: int
    items_per_chunk: int
    u64: bool = False

    def __post_init__(self):
        if self.end < self.start:
            raise WorldSpecError(f"{self.name}: end {self.end} < start {self.start}")
        width = self.end - self.start + 1
        if self.items_per_chunk <= 0:
            raise WorldSpecError(f"{self.name}: items_per_chunk must be positive")
        # The reference panics unless the range length divides evenly
        # (src/range.rs:24-30); we raise the same invariant as an error.
        if width % self.items_per_chunk != 0:
            raise WorldSpecError(
                f"{self.name}: range width {width} not divisible by "
                f"items_per_chunk {self.items_per_chunk}"
            )
        if self.u64:
            if self.start < 0:
                raise WorldSpecError(
                    f"{self.name}: u64 dims are unsigned (start >= 0)"
                )
            if self.end > U64_MAX:
                raise WorldSpecError(
                    f"{self.name}: end {self.end} exceeds u64::MAX"
                )
            if self.chunks_len - 1 > LONG_MAX:
                raise WorldSpecError(
                    f"{self.name}: {self.chunks_len} chunks exceed the "
                    "long chunk-index space; raise items_per_chunk"
                )

    @property
    def spark_type(self) -> str:
        """DDL type of the dim's DataFrame column."""
        return "decimal(20,0)" if self.u64 else "bigint"

    def sql_lit(self, value: int) -> str:
        """``value`` as a SQL literal of the column's domain:
        DECIMAL(20,0) for u64 dims (values past 2^63 don't fit a long
        literal), a long otherwise."""
        if self.u64:
            return f"CAST('{int(value)}' AS DECIMAL(20,0))"
        return f"{int(value)}L"

    @property
    def spacing(self) -> int:
        return self.items_per_chunk

    @property
    def chunks_len(self) -> int:
        """Number of chunks along this dimension (src/range.rs:33-35)."""
        return (self.end - self.start + 1) // self.items_per_chunk

    def in_range(self, value: int) -> bool:
        """Value bounds check (src/range.rs:61-69)."""
        return self.start <= value <= self.end

    def check(self, dim_index: int, value: int) -> None:
        if not self.in_range(value):
            raise ValueOutOfRangeError(dim_index, value, self.start, self.end)

    def chunk_of(self, value: int) -> int:
        """Value -> chunk index (src/range.rs:40-46)."""
        if not self.in_range(value):
            raise ValueOutOfRangeError(0, value, self.start, self.end)
        return (value - self.start) // self.spacing

    def chunks_of(self, bounds) -> tuple[int, int]:
        """Value range -> inclusive chunk-index range
        (src/range.rs:49-59). Out-of-range bounds are clamped to the
        dimension's domain first — a documented divergence from the
        reference, which errors and lets callers silently no-op
        (SURVEY.md §4.3.2); clamping gives the value-exact semantics
        our filters implement."""
        lo, hi = self.clamp(bounds)
        if lo > hi:
            raise ValueOutOfRangeError(0, lo, self.start, self.end)
        return (self.chunk_of(lo), self.chunk_of(hi))

    def clamp(self, bounds) -> tuple[int, int]:
        """Closed interval intersected with the dim domain. May return
        an empty interval (lo > hi)."""
        lo, hi = normalize_bounds(bounds)
        return (max(lo, self.start), min(hi, self.end))

    def chunk_range(self) -> tuple[int, int]:
        """Full chunk-index span (src/range.rs:74-76)."""
        return (0, self.chunks_len - 1)


@dataclass(frozen=True)
class WorldSpec:
    """Geometry of a world: an ordered tuple of dimensions; dim 0 is the
    unique immutable id (reference: src/world.rs:228-232,445-455).

    Equivalent of the ``world!`` macro's ``ipc => range`` DSL
    (src/macros.rs:19-27)."""

    dims: tuple[DimSpec, ...]

    def __post_init__(self):
        if len(self.dims) < 1:
            raise WorldSpecError("a world needs at least one dimension")
        names = [d.name for d in self.dims]
        if len(set(names)) != len(names):
            raise WorldSpecError(f"duplicate dim names: {names}")
        for d in self.dims:
            if not d.u64 and d.end > LONG_MAX:
                raise WorldSpecError(
                    f"{d.name}: end {d.end} exceeds Spark LongType domain "
                    f"[0, 2^63); declare the dim with u64=True "
                    f"(DECIMAL(20,0) column) or use a smaller range"
                )

    @property
    def ndims(self) -> int:
        return len(self.dims)

    @property
    def id_dim(self) -> DimSpec:
        return self.dims[0]

    def dim_names(self) -> list[str]:
        return [d.name for d in self.dims]

    def partition_cols(self) -> list[str]:
        """Chunk-index partition columns, one per dim: c0, c1, …"""
        return [f"c{i}" for i in range(self.ndims)]

    def chunk_pos_of(self, values: tuple[int, ...]) -> tuple[int, ...]:
        """Record dims -> chunk position (reference:
        ``World::chunk_pos_of_data`` src/world.rs:544-551)."""
        if len(values) != self.ndims:
            raise ValueError(f"expected {self.ndims} dims, got {len(values)}")
        for i, (d, v) in enumerate(zip(self.dims, values)):
            d.check(i, v)
        return tuple(d.chunk_of(v) for d, v in zip(self.dims, values))

    def validate_record(self, values: tuple[int, ...]) -> None:
        for i, (d, v) in enumerate(zip(self.dims, values)):
            d.check(i, v)
