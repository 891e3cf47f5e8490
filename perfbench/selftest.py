"""Self-tests of the benchmark itself (run by ``run.py --smoke``).

* Generator determinism: the same seed gives byte-identical input files,
  another seed gives different ones.
* Oracle sensitivity: a committed output perturbed on disk (a predicate
  partition deleted, a part file duplicated) scores below 1.0.
"""

from __future__ import annotations

import glob
import os
import shutil

import workloads as wl


def _check(ok: bool, what: str) -> bool:
    print(f"selftest {what}: {'ok' if ok else 'FAILED'}", flush=True)
    return ok


def determinism(spark, work: str) -> bool:
    size = wl.SIZES["toy"]

    def inputs(seed: int, tag: str) -> list[str]:
        root = os.path.join(work, tag)
        wl.write_hub_corpus(spark, f"{root}/hub", size.hub_turns, seed)
        ont, _cfg = wl.synthetic_owl(size.hpo_concepts, seed)
        os.makedirs(root, exist_ok=True)
        wl.write_rdfxml(ont, f"{root}/ontology.owl")
        wl.write_planted_corpus(f"{root}/planted", ont, size.hpo_turns, seed)
        return [wl.digest(f"{root}/{d}") for d in ("hub", "ontology.owl", "planted")]

    a, b, c = inputs(11, "a"), inputs(11, "b"), inputs(12, "c")
    parts_differ = all(x != y for x, y in zip(a, c))
    return _check(a == b, "same seed, identical inputs") & _check(
        parts_differ, "other seed, different inputs"
    )


def oracle_sensitivity(spark, work: str) -> bool:
    from run import Workload

    wk = Workload("refresh_relabel200k", spark, work, 5, wl.SIZES["toy"])
    out, _summary = wk.rep()
    expected, in_scope = wk.expected()
    ok = _check(wl.score(wk.committed_rows(out), expected, in_scope) == (1.0, 1.0),
                "unperturbed output scores 1.0")

    shutil.rmtree(glob.glob(f"{out}/triples/chunk=0/pred=synonym-of")[0])
    _p, r = wl.score(wk.committed_rows(out), expected, in_scope)
    ok &= _check(r < 1.0, f"dropped synonym-of partition lowers recall ({r:.4f})")

    part = sorted(glob.glob(f"{out}/triples/chunk=0/pred=is-a/part-*"))[0]
    shutil.copy(part, part.replace("part-", "part-dup-"))
    p, _r = wl.score(wk.committed_rows(out), expected, in_scope)
    ok &= _check(p < 1.0, f"duplicated is-a file lowers precision ({p:.4f})")
    return ok


def run(spark, work: str) -> bool:
    return determinism(spark, os.path.join(work, "gen")) & oracle_sensitivity(
        spark, os.path.join(work, "oracle")
    )
