"""Selection algebra: the engine's logical plan for dimensional queries.

Mirrors the reference's ``Select``/``Shape``/``PosBox``
(reference: src/world.rs:302-343,586-644 and src/world/select.rs), with
the semantics fixed to be *value-exact*:

- the reference selects at chunk granularity and yields every item of a
  selected chunk (its own test only checks membership,
  src/tests.rs:134-175); we keep the chunk shape for pruning but always
  apply the exact value predicate too;
- ``PosBox.intersect`` in the reference drops width-1 overlaps
  (``end <= start`` test, src/world/select.rs:99-103); ours uses correct
  closed intervals (documented divergence, SURVEY.md §4.3.1);
- ``and`` with an out-of-range bound silently no-ops in the reference
  (src/world.rs:599-605); ours clamps to the domain, yielding the empty
  selection when the clamp is empty (SURVEY.md §4.3.2);
- hints (``src/world.rs:616-636``) are a real IN-filter on dim 0 here,
  not a buffer-state-dependent optimization (SURVEY.md §4.3.3).

The compile target is a pair of predicates:
``to_predicate()`` — exact value filter over dim columns;
``to_partition_predicate()`` — chunk-index filter over partition columns
(c0, c1, …) that Catalyst uses for partition pruning, exactly the role
of the reference's Shape-driven chunk enumeration (src/world/iter.rs).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from dmds_spark.core.dims import WorldSpec, normalize_bounds


@dataclass(frozen=True)
class PosBox:
    """Axis-aligned hyper-rectangle of indices, closed on both ends
    (reference: src/world/select.rs:9-16; the reference stores
    ``end`` exclusive-ish with quirky intersect — ours is fully
    inclusive)."""

    start: tuple[int, ...]
    end: tuple[int, ...]

    def __post_init__(self):
        if len(self.start) != len(self.end):
            raise ValueError("start/end rank mismatch")

    @property
    def ndims(self) -> int:
        return len(self.start)

    def is_empty(self) -> bool:
        return any(s > e for s, e in zip(self.start, self.end))

    def contains(self, other: "PosBox") -> bool:
        """Box ⊇ box (reference: src/world/select.rs:78-90)."""
        return all(
            s1 <= s2 and e1 >= e2
            for s1, e1, s2, e2 in zip(self.start, self.end, other.start, other.end)
        )

    def intersect(self, other: "PosBox") -> "PosBox | None":
        """Box ∩ box with correct closed-interval semantics (the
        reference rejects width-1 overlaps, src/world/select.rs:92-108 —
        divergence documented above)."""
        start = tuple(max(a, b) for a, b in zip(self.start, other.start))
        end = tuple(min(a, b) for a, b in zip(self.end, other.end))
        box = PosBox(start, end)
        return None if box.is_empty() else box

    def positions(self):
        """Row-major enumeration (reference ``PosBoxIter`` odometer,
        src/world/select.rs:18-53). Used by tests and the world's
        partition-directory logic — never to schedule scans (Spark's
        file index handles that)."""
        if self.is_empty():
            return
        pos = list(self.start)
        while True:
            yield tuple(pos)
            # odometer bump, dim 0 fastest — same enumeration order as
            # the reference's bump() (src/world/select.rs:25-43)
            for i in range(self.ndims):
                pos[i] += 1
                if pos[i] <= self.end[i]:
                    break
                pos[i] = self.start[i]
            else:
                return


@dataclass
class Shape:
    """Union of PosBoxes — the selection IR
    (reference: src/world/select.rs:193-198 ``Shape::None/Single/Multiple``).
    An empty ``boxes`` list is the reference's ``Shape::None``."""

    boxes: list[PosBox] = field(default_factory=list)

    @staticmethod
    def none() -> "Shape":
        return Shape([])

    @staticmethod
    def single(box: PosBox) -> "Shape":
        return Shape([] if box.is_empty() else [box])

    def is_none(self) -> bool:
        return not self.boxes

    def intersect_box(self, box: PosBox) -> "Shape":
        """Shape ∩ box: distribute over the union
        (reference: src/world/select.rs:273-291)."""
        out = []
        for b in self.boxes:
            i = b.intersect(box)
            if i is not None:
                out.append(i)
        return Shape(_dedupe_contained(out))

    def union(self, other: "Shape") -> "Shape":
        """Shape ∪ shape with containment dedup in both directions
        (reference: src/world/select.rs:307-374)."""
        return Shape(_dedupe_contained(self.boxes + other.boxes))

    def positions(self) -> list[tuple[int, ...]]:
        """Deduplicated union enumeration (reference ``ShapeIter``,
        src/world/select.rs:200-305)."""
        seen: set[tuple[int, ...]] = set()
        out = []
        for b in self.boxes:
            for p in b.positions():
                if p not in seen:
                    seen.add(p)
                    out.append(p)
        return out


def _dedupe_contained(boxes: list[PosBox]) -> list[PosBox]:
    """Drop boxes contained in another (reference's Add containment
    collapse, src/world/select.rs:121-134,331-352)."""
    out: list[PosBox] = []
    for b in boxes:
        if b.is_empty() or any(o.contains(b) for o in out):
            continue
        out = [o for o in out if not b.contains(o)]
        out.append(b)
    return out


# ---------------------------------------------------------------------------
# Value-level selection AST
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class ValueBox:
    """Conjunction of per-dim closed value intervals — the value-exact
    counterpart of a PosBox. ``intervals[i] = (lo, hi)`` clamped to the
    dim domain."""

    intervals: tuple[tuple[int, int], ...]

    def is_empty(self) -> bool:
        return any(lo > hi for lo, hi in self.intervals)

    def intersect(self, other: "ValueBox") -> "ValueBox | None":
        ivs = tuple(
            (max(a, c), min(b, d))
            for (a, b), (c, d) in zip(self.intervals, other.intervals)
        )
        box = ValueBox(ivs)
        return None if box.is_empty() else box

    def contains(self, other: "ValueBox") -> bool:
        return all(
            a <= c and b >= d
            for (a, b), (c, d) in zip(self.intervals, other.intervals)
        )


class Select:
    """The fluent selection builder
    (reference: ``World::select`` src/world.rs:302-329, ``Select::and``
    :595-605, ``::plus`` :607-614, ``::hint(s)`` :616-636).

    Internally a union of ValueBoxes plus an id IN-list. ``and_``
    intersects every box with the new per-dim interval; ``plus``
    appends a new box restricted on one dim. The chunk Shape for
    pruning is *derived* from the value boxes, never stored — so value
    predicate and partition predicate can't drift apart.
    """

    def __init__(self, spec: WorldSpec, boxes: list[ValueBox], hint_ids: tuple[int, ...] = ()):
        self.spec = spec
        self.boxes = [b for b in boxes if not b.is_empty()]
        self.hint_ids = hint_ids

    # -- construction -------------------------------------------------------

    @staticmethod
    def all(spec: WorldSpec) -> "Select":
        """Full scan seed (reference: ``World::select_all``
        src/world.rs:332-335)."""
        full = ValueBox(tuple((d.start, d.end) for d in spec.dims))
        return Select(spec, [full])

    @staticmethod
    def dim(spec: WorldSpec, dim: int, bounds) -> "Select":
        """Seed selection restricting one dimension
        (reference: src/world.rs:302-329). Out-of-domain bounds clamp;
        a fully out-of-range bound yields the empty selection (the
        reference's Shape::None, src/world.rs:313-317)."""
        ivs = []
        for i, d in enumerate(spec.dims):
            if i == dim:
                ivs.append(d.clamp(bounds))
            else:
                ivs.append((d.start, d.end))
        return Select(spec, [ValueBox(tuple(ivs))])

    def and_(self, dim: int, bounds) -> "Select":
        """Conjunction (reference: src/world.rs:595-605). The
        reference silently ignores out-of-range sub-selects
        (SURVEY.md §4.3.2); we clamp, so an impossible bound empties
        the selection — value-exact semantics."""
        d = self.spec.dims[dim]
        lo, hi = d.clamp(bounds)
        restrict = ValueBox(
            tuple(
                (lo, hi) if i == dim else (dd.start, dd.end)
                for i, dd in enumerate(self.spec.dims)
            )
        )
        out = []
        for b in self.boxes:
            i = b.intersect(restrict)
            if i is not None:
                out.append(i)
        return Select(self.spec, out, self.hint_ids)

    def plus(self, dim: int, bounds) -> "Select":
        """Disjunction (reference: src/world.rs:607-614)."""
        other = Select.dim(self.spec, dim, bounds)
        merged = self._dedupe(self.boxes + other.boxes)
        return Select(self.spec, merged, self.hint_ids)

    def hint(self, id_value: int) -> "Select":
        """Add a point-lookup hint on dim 0 (reference:
        src/world.rs:616-625). Here hints are a real filter
        (SURVEY.md §4.3.3)."""
        return Select(self.spec, self.boxes, self.hint_ids + (id_value,))

    def hints(self, ids) -> "Select":
        """IN-list on dim 0 (reference: src/world.rs:627-636)."""
        return Select(self.spec, self.boxes, self.hint_ids + tuple(ids))

    @staticmethod
    def _dedupe(boxes: list[ValueBox]) -> list[ValueBox]:
        out: list[ValueBox] = []
        for b in boxes:
            if b.is_empty() or any(o.contains(b) for o in out):
                continue
            out = [o for o in out if not b.contains(o)]
            out.append(b)
        return out

    # -- derived chunk shape (pruning) -------------------------------------

    def shape(self) -> Shape:
        """Chunk-index Shape derived from the value boxes — the
        reference's pruning IR (src/world/select.rs:193-198), computed
        per box via ``DimMapping::chunks_of`` (src/range.rs:49-59)."""
        boxes = []
        for vb in self.boxes:
            start = []
            end = []
            for d, (lo, hi) in zip(self.spec.dims, vb.intervals):
                start.append(d.chunk_of(lo))
                end.append(d.chunk_of(hi))
            boxes.append(PosBox(tuple(start), tuple(end)))
        return Shape(_dedupe_contained(boxes))

    def is_empty(self) -> bool:
        return not self.boxes

    # -- compile to Spark predicates ----------------------------------------

    def pinned_ids(self) -> frozenset | None:
        """The dim-0 values every row this selection matches takes:
        the hint ids when hinted, else the dim-0 point of each box
        when every box pins dim 0 to one value; None when dim 0 is not
        pinned. The World's pending merge builds only the sides that
        hold such ids."""
        if self.hint_ids:
            return frozenset(int(i) for i in self.hint_ids)
        points = {b.intervals[0] for b in self.boxes}
        if points and all(lo == hi for lo, hi in points):
            return frozenset(lo for lo, _ in points)
        return None

    def to_predicate(self):
        """Exact value predicate: OR over boxes of AND over dims of
        closed-interval comparisons, AND id IN-list if hinted. Parsed
        from one SQL string (one gateway call, where a tree of Column
        calls makes one per node and ``Column.isin`` one per id); it
        stays inside whole-stage codegen, and Catalyst pushes it into
        the parquet scan. u64 dims compare against DECIMAL(20,0)
        literals (a bound past 2^63 doesn't fit a long literal);
        pushdown into the parquet scan carries over — decimal min/max
        stats prune the same way."""
        from pyspark.sql import functions as F

        if not self.boxes:
            return F.expr("false")
        ors = []
        for vb in self.boxes:
            ands = []
            for d, (lo, hi) in zip(self.spec.dims, vb.intervals):
                if lo == d.start and hi == d.end:
                    continue  # full-range dim contributes no filter
                c = f"`{d.name}`"
                ands.append(
                    f"{c} = {d.sql_lit(lo)}" if lo == hi
                    else f"{c} >= {d.sql_lit(lo)} AND {c} <= {d.sql_lit(hi)}"
                )
            ors.append(f"({' AND '.join(ands) or 'true'})")
        pred = " OR ".join(ors)
        if self.hint_ids:
            id_dim = self.spec.id_dim
            ids = ",".join(id_dim.sql_lit(i) for i in sorted(set(self.hint_ids)))
            pred = f"({pred}) AND `{id_dim.name}` IN ({ids})"
        return F.expr(pred)

    def to_partition_predicate(self):
        """Chunk-index predicate over partition columns c0..cN — this is
        what turns the reference's chunk enumeration into Catalyst
        partition pruning (explain() shows it under PartitionFilters).
        Hinted ids additionally narrow c0 to the chunks the ids land in
        — strictly better than the reference, whose IO path ignores
        hints (src/world/iter.rs:706-719)."""
        from pyspark.sql import functions as F

        shape = self.shape()
        if shape.is_none():
            return F.lit(False)
        pred = None
        for box in shape.boxes:
            box_pred = None
            for i, (s, e) in enumerate(zip(box.start, box.end)):
                d = self.spec.dims[i]
                if s == 0 and e == d.chunks_len - 1:
                    continue
                c = F.col(f"c{i}")
                p = (c >= s) & (c <= e) if s != e else (c == s)
                box_pred = p if box_pred is None else (box_pred & p)
            if box_pred is None:
                box_pred = F.lit(True)
            pred = box_pred if pred is None else (pred | box_pred)
        if self.hint_ids:
            id_chunks = sorted({self.spec.id_dim.chunk_of(i) for i in self.hint_ids
                                if self.spec.id_dim.in_range(i)})
            if id_chunks:
                pred = pred & F.col("c0").isin(id_chunks)
            else:
                pred = F.lit(False)
        return pred
