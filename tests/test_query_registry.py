"""The query registry's two orders, checked without a Spark session.

``list(_REGISTRY)`` is registration order and is frozen. ``queries()``
is the correctness rotation, read from the ``CORRECTNESS_r*.json``
files in the repo root (rule in dmds_spark/queries/__init__.py)."""

import hashlib
import json

import dmds_spark.queries as queries_pkg
from dmds_spark.queries import (
    _REGISTRY,
    _load,
    _ordered_names,
    all_oracle_sql,
    all_queries,
    correctness_rounds,
    latest_evidence,
)

# sha256 of the newline-joined registration order of the 392 queries
REGISTRY_SHA256 = (
    "b9c3116deab744c8d578e2712d005d03269eb9ef78c72892f81c9cea04222d8b"
)
WINDOW = 50  # queries a correctness round checks, from the front


def _registered() -> list[str]:
    _load()
    return list(_REGISTRY)


def test_registration_order_is_frozen():
    names = _registered()
    assert len(names) == 392
    digest = hashlib.sha256("\n".join(names).encode()).hexdigest()
    assert digest == REGISTRY_SHA256


def test_module_imported_first_keeps_registration_order(monkeypatch):
    names = _registered()
    # as if a test had imported the last module before the first _load()
    late = [n for n in names
            if _REGISTRY[n][0].__module__.endswith(".round15d")]
    assert late
    shuffled = {n: _REGISTRY[n] for n in late + names}
    monkeypatch.setattr(queries_pkg, "_REGISTRY", shuffled)
    monkeypatch.setattr(queries_pkg, "_LOADED", False)
    queries_pkg._load()
    assert list(shuffled) == names


def test_latest_round_is_out_of_the_window():
    rounds = correctness_rounds()
    assert max(rounds) >= 16
    front = set(list(all_queries())[:WINDOW])
    assert not front & set(rounds[16])
    assert not front & set(rounds[max(rounds)])


def test_rotation_is_oldest_evidence_first():
    last = latest_evidence(correctness_rounds())
    reg = {n: i for i, n in enumerate(_registered())}
    keys = [(last.get(n, 0), reg[n]) for n in all_queries()]
    assert keys == sorted(keys)  # rounds never decrease; ties registered
    oracle = list(all_oracle_sql())
    assert oracle == [n for n in all_queries() if n in set(oracle)]


def test_harness_error_is_not_evidence(tmp_path):
    rounds = correctness_rounds()
    # the canonicalizer crashed on these in r04: no evidence that round
    assert "err" in rounds[4]["agg_collect_sorted"]
    early = {r: v for r, v in rounds.items() if r <= 4}
    assert latest_evidence(early).get("agg_collect_sorted") != 4

    a, b, c, d = _registered()[:4]
    ok = {"hash_match": True, "err": None}
    files = {
        1: {a: ok, b: ok, c: ok, d: ok},
        2: {
            a: {"hash_match": None, "err": "Traceback: WorldFencedError"},
            b: {"hash_match": None, "err": "no_oracle"},
            c: {"hash_match": False, "err": None},
        },
    }
    for rnd, body in files.items():
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(
            json.dumps(body)
        )
    last = latest_evidence(correctness_rounds(str(tmp_path)))
    assert last == {a: 1, b: 2, c: 2, d: 1}
    order = _ordered_names(str(tmp_path))
    assert order[-4:] == [a, d, b, c]
    assert order[:-4] == _registered()[4:]


def test_no_evidence_gives_registration_order(tmp_path):
    assert correctness_rounds(str(tmp_path)) == {}
    assert _ordered_names(str(tmp_path)) == _registered()
