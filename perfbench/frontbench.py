"""Single-core frontend microbenchmark over seeded per-language span samples.

Calls ``FRONTENDS[kind]`` and then ``expand_expression_eog`` on each span,
in this process and on one thread, the way one parse task does per span.
"""

from __future__ import annotations

import random
import statistics
import time

LANGS = {"python": "code/python", "go": "code/go", "java": "code/java"}


def sample(code_spans: list[tuple[str, str]], seed: int,
           per_lang: int) -> dict[str, list[str]]:
    """Up to ``per_lang`` distinct spans of each language, drawn by seed."""
    rng = random.Random(f"frontends/{seed}")
    out = {}
    for lang, kind in LANGS.items():
        texts = sorted({t for k, t in code_spans if k == kind})
        if texts:
            out[lang] = rng.sample(texts, min(per_lang, len(texts)))
    return out


def run(samples: dict[str, list[str]], reps: int = 5) -> dict:
    """Per-span milliseconds (median over ``reps`` passes) of each
    frontend and of the expression-EOG rewrite, with the exact node and
    edge counts the sample produces."""
    from cpg_spark.frontends import FRONTENDS
    from cpg_spark.frontends.eog import expand_expression_eog

    fe_ms: dict[str, list[float]] = {lang: [] for lang in samples}
    eog_ms: dict[str, list[float]] = {lang: [] for lang in samples}
    nodes = edges = 0
    for rep in range(reps):
        for lang, texts in samples.items():
            parser = FRONTENDS[LANGS[lang]]
            fe = eog = 0.0
            for i, text in enumerate(texts):
                doc_id = f"{lang}/bench{i}/{i:08d}"
                t0 = time.perf_counter()
                g = parser(doc_id, 1, text)
                t1 = time.perf_counter()
                expand_expression_eog(g)
                t2 = time.perf_counter()
                fe += t1 - t0
                eog += t2 - t1
                if rep == 0:
                    nodes += len(g.nodes)
                    edges += len(g.edges)
            fe_ms[lang].append(1000 * fe / len(texts))
            eog_ms[lang].append(1000 * eog / len(texts))
    per_lang = {lang: {"frontend_ms": statistics.median(fe_ms[lang]),
                       "eog_ms": statistics.median(eog_ms[lang]),
                       "spans": len(samples[lang])}
                for lang in samples}
    n = sum(len(t) for t in samples.values())
    return {
        "per_lang": per_lang,
        "spans": n,
        "nodes": nodes,
        "edges": edges,
        "eog_ms": sum(v["eog_ms"] * v["spans"] for v in per_lang.values()) / n,
    }
