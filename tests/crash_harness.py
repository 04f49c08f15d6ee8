"""Crash harness: kill a writer at a named step, then check recovery.

A write op runs in a fresh interpreter. Before the op starts, one
named step (``"module:attr"`` or ``"module:Class.attr"``, plus ``#n``
for its n-th call) is replaced by ``os._exit(KILLED)``, so the process
dies there as it would on a power cut: no ``finally`` blocks, no
``atexit`` hooks, no cleanup. Engine code carries no hook for this.

The parent then reopens the store and compares what it reads with a
row model: the state must equal the one before the op or the one after
it, never a mixture, and no id may appear twice. A further write must
then succeed. ``run_killed`` starts the children (several at a time)
and ``check_recovered`` does the comparison.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from dataclasses import dataclass

KILLED = 17  # the exit code of a process killed at its step
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = """
import importlib, json, os, sys
case = json.loads(sys.argv[1])

def resolve(path):
    mod, _, attr = path.partition(":")
    owner = importlib.import_module(mod)
    *outer, name = attr.split(".")
    for a in outer:
        owner = getattr(owner, a)
    return owner, name

setup = resolve(case["op"])
setup = getattr(*setup)
run = setup(**case["args"])  # builds what the op needs, returns the op
step, _, nth = case["step"].partition("#")
owner, name = resolve(step)
real, calls, nth = getattr(owner, name), [0], int(nth or 1)

def killed(*a, **kw):
    calls[0] += 1
    if calls[0] == nth:
        os._exit(%d)
    return real(*a, **kw)

setattr(owner, name, killed)
run()
sys.exit(0)
""" % KILLED


@dataclass
class Case:
    """One killed run: ``op`` names a ``"module:function"`` that takes
    ``args`` as keywords, sets up (opens the store, builds the batch)
    and returns the zero-argument write op; ``step`` is replaced by the
    kill before the op runs."""

    name: str
    op: str
    step: str
    args: dict


def run_killed(cases: list[Case], parallel: int = 3, timeout: float = 600) -> dict:
    """Run every case in its own interpreter, at most ``parallel`` at a
    time. Returns case name -> (exit code, output tail). An exit code
    of ``KILLED`` means the step was reached; 0 means the op finished
    without reaching it."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, env.get("PYTHONPATH")) if p
    )
    out, running, todo = {}, [], list(cases)
    while todo or running:
        while todo and len(running) < parallel:
            c = todo.pop(0)
            proc = subprocess.Popen(
                [sys.executable, "-c", _CHILD, json.dumps(
                    {"op": c.op, "step": c.step, "args": c.args})],
                cwd=REPO, env=env, stdout=subprocess.PIPE,
                stderr=subprocess.STDOUT, text=True,
            )
            running.append((c, proc))
        c, proc = running.pop(0)
        try:
            text, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            text, _ = proc.communicate()
        out[c.name] = (proc.returncode, text[-3000:])
    return out


def check_recovered(rows_now: list[tuple], pre: dict, post: dict) -> str:
    """Compare the rows a reopened store serves with the row models
    ``pre`` and ``post`` (id -> row tuple whose first field is the id).
    Returns ``"pre"`` or ``"post"``; raises AssertionError on duplicate
    ids or on any other state."""
    ids = [r[0] for r in rows_now]
    dup = sorted({i for i in ids if ids.count(i) > 1})
    assert not dup, f"duplicate ids after the kill: {dup[:10]}"
    got = {r[0]: tuple(r) for r in rows_now}
    for label, model in (("pre", pre), ("post", post)):
        if got == model:
            return label
    lost = sorted(set(pre) & set(post) - set(got))
    raise AssertionError(
        f"state is neither pre nor post: {len(got)} rows "
        f"(pre {len(pre)}, post {len(post)}), ids lost in both: {lost[:10]}"
    )
