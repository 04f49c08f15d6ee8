"""Zone maps (data skipping) for World: per-partition min/max of
payload columns, maintained incrementally, consulted at read time to
prune partition directories a range predicate cannot match.

Partition-dim pruning (``World.read``) skips chunks by the DIMENSION
columns; zone maps extend skipping to columns the world is NOT keyed
by, exploiting natural ingest locality (an append-mostly world keyed by
id has near-monotone timestamps, so each id-chunk covers a tight ts
range — the classic min/max zone). This is the reference's
``hint_is_valid`` negative cache (src/world.rs, world/select.rs hints)
generalized from "does this chunk exist" to "can this chunk possibly
satisfy the predicate" — the same role Parquet row-group statistics and
Iceberg manifest column bounds play, lifted to the chunk-directory
level so pruning happens before any file is opened.

Safety model (the part that makes refresh OPTIONAL, never a
correctness dependency): each partition's zone records a fingerprint of
the partition's current content — its owning snapshot version from the
world's manifest. At read time the CURRENT fingerprint is re-read (one
manifest read, bounded by the <=4096-dir layout) and a partition is
pruned ONLY when its fingerprint still matches the sidecar AND its zone
excludes the bounds. A partition
written since the last refresh simply loses pruning until the next
``zonemap_refresh`` — stale zones degrade performance, never results.

Refresh is dirty-only: unchanged fingerprints keep their stored zones;
only changed/new partitions are re-aggregated, with the scan pruned to
exactly those partitions (reference analogue: the dirty-chunk flush
never rewrites clean state, tokio-fs/src/lib.rs:207-235).

Zone values are stored in a canonical primitive space per column kind
(timestamp -> unix micros, date -> days, numerics/strings as-is) so the
JSON sidecar is engine-neutral; read-time exact predicates are emitted
back in COLUMN space (``col >= timestamp_micros(lo)``) so they still
push down to the parquet scan.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dmds_spark.core import commit

_SIDECAR = "_zonemap.json"

# column kind -> (to canonical expr, literal back to column space)
_KINDS = {
    "timestamp": (
        lambda c: F.unix_micros(F.col(c)),
        lambda v: F.timestamp_micros(F.lit(int(v))),
    ),
    "date": (
        lambda c: F.datediff(F.col(c), F.lit("1970-01-01").cast("date")),
        lambda v: F.date_add(F.lit("1970-01-01").cast("date"), int(v)),
    ),
}


def _kind_of(dtype: str) -> str:
    base = dtype.split("(")[0].lower()
    if base in ("timestamp", "timestamp_ntz"):
        return "timestamp"
    if base == "date":
        return "date"
    return "raw"


def _canon(col: str, kind: str):
    if kind in _KINDS:
        return _KINDS[kind][0](col)
    return F.col(col)


def _lit_back(kind: str, v):
    if kind in _KINDS:
        return _KINDS[kind][1](v)
    return F.lit(v)


def _part_key(pcols, row) -> str:
    # values-only key ("3/7"), the same convention as World._part_key_col
    # and the versioned manifest's owner map
    return "/".join(str(int(row[c])) for c in pcols)


def _fingerprints(world) -> dict[str, str]:
    """Current per-partition content fingerprint, driver-side metadata
    only: the owning snapshot version (a partition's bytes change only
    via a new commit, which gives it a new owner)."""
    owner = world._read_owner(world.current_version())
    return {k: f"v{v}" for k, v in owner.items()}


def _sidecar_path(world) -> str:
    return os.path.join(world.path, _SIDECAR)


def load_zonemap(world) -> dict:
    p = _sidecar_path(world)
    if not os.path.exists(p):
        return {"cols": [], "kinds": {}, "partitions": {}}
    with open(p) as f:
        return json.load(f)


def _store(world, zm: dict) -> None:
    os.makedirs(world.path, exist_ok=True)
    commit.atomic_flip(_sidecar_path(world), zm)


def refresh(world, cols: list[str]) -> dict:
    """Dirty-only zone recompute for ``cols``. Returns a report:
    ``{"partitions": N, "recomputed": n, "kept": N-n}``. Runs under the
    world's in-process writer mutex; the sidecar write is an atomic
    replace, so a concurrent cross-process refresher can lose the race
    (its update is overwritten — pruning degrades, correctness holds
    via the fingerprint guard) but can never corrupt the sidecar.
    Readers are never blocked."""
    with world._lock:
        base = world._base()
        pcols = world.partition_cols()
        prev = load_zonemap(world)
        cur_fp = _fingerprints(world)
        prev_parts = prev.get("partitions", {})
        same_cols = list(prev.get("cols", [])) == list(cols)

        stale = [
            k
            for k, fp in cur_fp.items()
            if not same_cols
            or prev_parts.get(k, {}).get("fp") != fp
        ]
        parts: dict[str, dict] = {
            k: prev_parts[k]
            for k in cur_fp
            if same_cols and k in prev_parts and prev_parts[k].get("fp") == cur_fp[k]
        }
        kinds = {}
        if base is not None:
            dtypes = dict(base.dtypes)
            kinds = {c: _kind_of(dtypes[c]) for c in cols}
        if stale and base is not None:
            # scan exactly the stale partitions (the semi join prunes
            # via DPP; for 1-dim worlds an isin literal prunes statically)
            if len(pcols) == 1:
                vals = [int(k) for k in stale]
                scoped = base.filter(F.col(pcols[0]).isin(vals))
            else:
                stale_df = world.spark.createDataFrame(
                    [tuple(int(p) for p in k.split("/")) for k in stale],
                    ", ".join(f"{c} long" for c in pcols),
                )
                scoped = base.join(
                    F.broadcast(stale_df), on=pcols, how="left_semi"
                )
            aggs = []
            for c in cols:
                cc = _canon(c, kinds[c])
                aggs += [
                    F.min(cc).alias(f"__lo_{c}"),
                    F.max(cc).alias(f"__hi_{c}"),
                ]
            rows = scoped.groupBy(*pcols).agg(*aggs).collect()
            for r in rows:
                zones = {}
                for c in cols:
                    lo, hi = r[f"__lo_{c}"], r[f"__hi_{c}"]
                    if lo is not None:
                        zones[c] = [lo, hi]
                k = _part_key(pcols, r)
                parts[k] = {"fp": cur_fp.get(k, ""), "zones": zones}
            # stale partitions that vanished from the scan (all rows
            # deleted) keep no entry; cur_fp-only keys with no rows get
            # an empty-zone entry so they are never wrongly re-scanned
            for k in stale:
                parts.setdefault(k, {"fp": cur_fp.get(k, ""), "zones": {}})
        zm = {"cols": list(cols), "kinds": kinds, "partitions": parts}
        _store(world, zm)
        return {
            "partitions": len(cur_fp),
            "recomputed": len(stale),
            "kept": len(cur_fp) - len(stale),
        }


def prune_report(world, bounds: dict[str, tuple]) -> dict:
    """Which partitions would a read with ``bounds`` skip, and why.
    ``{"total": N, "pruned": n, "stale": s}`` — stale partitions (fp
    mismatch since last refresh) are conservatively kept."""
    zm = load_zonemap(world)
    cur_fp = _fingerprints(world)
    pruned = stale = 0
    for k, fp in cur_fp.items():
        ent = zm["partitions"].get(k)
        if ent is None or ent.get("fp") != fp:
            stale += 1
            continue
        if _zone_excludes(ent.get("zones", {}), bounds):
            pruned += 1
    return {"total": len(cur_fp), "pruned": pruned, "stale": stale}


def _zone_excludes(zones: dict, bounds: dict[str, tuple]) -> bool:
    for c, (blo, bhi) in bounds.items():
        z = zones.get(c)
        if z is None:
            continue  # no stats for this col here -> cannot exclude
        zlo, zhi = z
        if (bhi is not None and zlo > bhi) or (
            blo is not None and zhi < blo
        ):
            return True
    return False


def read_where(world, bounds: dict[str, tuple], sel=None) -> DataFrame:
    """Range read with zone-map skipping: bounds are inclusive
    ``col -> (lo, hi)`` pairs in the canonical space (unix micros for
    timestamps, days for dates, raw otherwise; None = unbounded). The
    surviving-partition predicate is a LITERAL on the partition columns
    (static partition pruning for 1-dim worlds; broadcast-DPP semi join
    otherwise), the exact predicate is emitted in column space so it
    pushes into the parquet scan, and pending buffered ops merge exactly
    as ``World.read`` does (pending rows bypass zones — they are not on
    disk)."""
    sel = sel if sel is not None else world.select_all()
    zm = load_zonemap(world)
    cur_fp = _fingerprints(world)
    survivors: list[str] = []
    for k, fp in cur_fp.items():
        ent = zm["partitions"].get(k)
        if ent is not None and ent.get("fp") == fp and _zone_excludes(
            ent.get("zones", {}), bounds
        ):
            continue
        survivors.append(k)

    pcols = world.partition_cols()
    base = world._base()
    pending = world._resolved_pending()
    live = pending.live if pending is not None else None

    # column kinds come from the LIVE SCHEMA at read time, never the
    # sidecar: a read before any refresh (or on never-mapped columns)
    # must still emit correctly-typed literals — refresh is a pruning
    # maintenance call, not a correctness dependency
    kinds: dict[str, str] = dict(zm.get("kinds", {}))
    for src in (base, live):
        if src is not None:
            for c, t in src.dtypes:
                if c in bounds:
                    kinds[c] = _kind_of(t)

    def exact_pred(schema_cols=None):
        """Bounds predicate; with ``schema_cols``, a bounds column
        absent from the frame makes the predicate unsatisfiable (rows
        with no such value cannot be in range) instead of unresolvable
        (the delete-only pending buffer carries only dim columns)."""
        p = F.lit(True)
        for c, (blo, bhi) in bounds.items():
            if schema_cols is not None and c not in schema_cols:
                return F.lit(False)
            kind = kinds.get(c, "raw")
            if blo is not None:
                p = p & (F.col(c) >= _lit_back(kind, blo))
            if bhi is not None:
                p = p & (F.col(c) <= _lit_back(kind, bhi))
        return p

    value_pred = sel.to_predicate() & exact_pred()
    out = None
    if base is not None:
        pruned = base.filter(
            world._physical_partition_predicate(sel.shape())
        )
        if len(survivors) < len(cur_fp):
            if len(pcols) == 1:
                vals = [int(k) for k in survivors]
                pruned = pruned.filter(F.col(pcols[0]).isin(vals))
            else:
                surv_df = world.spark.createDataFrame(
                    [
                        tuple(int(p) for p in k.split("/"))
                        for k in survivors
                    ],
                    ", ".join(f"{c} long" for c in pcols),
                )
                pruned = pruned.join(
                    F.broadcast(surv_df), on=pcols, how="left_semi"
                )
        pruned = pruned.filter(value_pred).drop(*pcols)
        if pending is not None:
            pruned = world._drop_touched(pruned, pending)
        out = pruned
    if live is not None:
        live_sel = live.filter(
            sel.to_predicate() & exact_pred(set(live.columns))
        )
        if out is None:
            out = live_sel
        else:
            live_sel = world._align_to(live_sel, out)
            out = out.unionByName(live_sel, allowMissingColumns=True)
    if out is None:
        snap = world.snapshot()  # empty world: dim-only schema
        return snap.filter(
            sel.to_predicate() & exact_pred(set(snap.columns))
        )
    return out
