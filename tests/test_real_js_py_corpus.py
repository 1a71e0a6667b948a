"""Real-corpus robustness bounds for the TS/JS and Python frontends,
mirroring tests/test_system_headers.py for C/C++: parse a sample of the
sandbox's own third-party code (npm's node_modules tree, the python
stdlib) and bound the degradation rate.  These are files the grammars
were never tuned on; the bound catches regressions in the round-4
session-2 surface (async arrows, do-while, optional chains, bitwise
operators, destructuring, ASI).
"""

from __future__ import annotations

import glob
import os

import pytest

from cpg_spark.frontends.python_frontend import parse_python_document
from cpg_spark.frontends.ts_frontend import parse_ts_document

NPM_ROOT = "/usr/lib/node_modules/npm/node_modules"
PY_ROOT = "/usr/lib/python3.11"


def _rate(parse, files, kind):
    """Degraded-node rate over a corpus: Problem* labels PLUS empty-name
    Expression/Statement gap nodes — the honest union (round-5 fix of the
    round-4 blind spot where gap Statements were invisible).  Every file
    must also keep the id invariants (unique node ids, no dangling
    edge endpoint)."""
    nodes = probs = whole = 0
    for p in files:
        src = open(p, errors="replace").read()
        if len(src) > 150_000:
            continue
        g = parse(p, 0, src)
        assert not g.id_faults(), (p, g.id_faults()[:5])
        pr = [n for n in g.nodes
              if "Problem" in (n["label"] or "")
              or (n["label"] in ("Expression", "Statement")
                  and not n["name"])]
        nodes += len(g.nodes)
        probs += len(pr)
        if pr and len(g.nodes) <= 2:
            whole += 1
    assert nodes > 10_000, f"suspiciously small {kind} corpus"
    return probs / nodes, whole


@pytest.mark.skipif(not os.path.isdir(NPM_ROOT), reason="no npm tree")
def test_npm_js_corpus_parses_clean():
    files = sorted(glob.glob(NPM_ROOT + "/**/*.js", recursive=True))[:150]
    rate, whole = _rate(parse_ts_document, files, "js")
    assert whole == 0
    # measured 0.0 over all 885 files at the round-4 close; 0.1% bound
    # leaves headroom for future tree updates
    assert rate < 0.001, f"js problem rate {rate:.4%}"


@pytest.mark.skipif(not os.path.isdir(PY_ROOT), reason="no stdlib")
def test_python_stdlib_corpus_parses_clean():
    # with the gap-node metric this was ~4.8% under the round-4 parity
    # default; the full-fidelity frontend measures 0 (round-5 close)
    files = sorted(glob.glob(PY_ROOT + "/*.py"))[:100]
    rate, whole = _rate(parse_python_document, files, "py")
    assert whole == 0
    assert rate < 0.001, f"python degraded rate {rate:.4%}"
