"""Benchmark workloads: seeded input generation, the CLI invocation each
timed rep makes, and the oracle its committed output is checked against.

The program only ever sees files: a parquet transcript corpus, and either
the built-in ``qops`` fixture, parquet ontology tables or an RDF/XML OWL
document. Expected triples never come from the engine's own matcher:

* ontology triples come from ``fixtures.model_build_graph`` (a pure-Python
  model of the reference's canonicalisation and hierarchy reduction);
* mention triples come from the terms the generator planted
  (``ontology_hpo18k``), or from ``fixtures.model_mentions`` over a fixed
  sample of conversations (the ``qops`` corpora, whose generator plants
  terms with Spark column expressions).
"""

from __future__ import annotations

import dataclasses
import hashlib
import os
from xml.sax.saxutils import escape

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

OBO_NS = "http://www.geneontology.org/formats/oboInOwl#"
RDFS_LABEL = "http://www.w3.org/2000/01/rdf-schema#label"
QOPS_CFG_FLAGS = ["--synonym-props", "label,hasExactSynonym", "--labels-to-exclude", "the,a"]
TURNS_PER_CONV = 8
# conversations whose mentions are checked against the model matcher
SAMPLE_EVERY = 131


@dataclasses.dataclass(frozen=True)
class Size:
    hub_turns: int
    hub_chunks: int
    hpo_concepts: int
    hpo_turns: int
    hpo_chunks: int


SIZES = {
    "full": Size(hub_turns=200_000, hub_chunks=1,
                 hpo_concepts=18_000, hpo_turns=30_000, hpo_chunks=2),
    "toy": Size(hub_turns=8_000, hub_chunks=1,
                hpo_concepts=2_000, hpo_turns=4_000, hpo_chunks=2),
}


# ---------------------------------------------------------------------------
# Generators
# ---------------------------------------------------------------------------


def write_hub_corpus(spark, path: str, n_turns: int, seed: int) -> None:
    """The qops bench corpus (``benchgen.bench_transcripts``): 0-3 planted
    ontology terms per turn, the hub term in 30% of turns."""
    from fhir_owl_spark import benchgen

    benchgen.bench_transcripts(
        spark, n_turns, turns_per_conv=TURNS_PER_CONV, seed=seed
    ).write.parquet(path)


def synthetic_owl(n_concepts: int, seed: int):
    """``fixtures.synthetic_ontology`` with its annotation properties
    renamed to the IRIs an RDF/XML document carries, and the matching
    config. Returns (ontology, config)."""
    from fhir_owl_spark import fixtures as fx

    ont, cfg = fx.synthetic_ontology(n_concepts, seed=seed)
    props = {"label": RDFS_LABEL, "hasExactSynonym": OBO_NS + "hasExactSynonym"}
    ont = fx.Ontology(
        concepts=ont.concepts,
        edges=ont.edges,
        synonyms=[dict(s, prop=props[s["prop"]]) for s in ont.synonyms],
    )
    cfg = dataclasses.replace(
        cfg, display_prop=RDFS_LABEL, synonym_props=tuple(props.values())
    )
    return ont, cfg


def write_rdfxml(ont, path: str) -> None:
    """Render an ``Ontology`` as an RDF/XML OWL document."""
    from fhir_owl_spark.schemas import OWL_THING

    syns: dict[str, list[dict]] = {}
    for s in ont.synonyms:
        syns.setdefault(s["iri"], []).append(s)
    parents: dict[str, list[str]] = {}
    for e in ont.edges:
        parents.setdefault(e["child_iri"], []).append(e["parent_iri"])
    tag = {RDFS_LABEL: "rdfs:label", OBO_NS + "hasExactSynonym": "oboInOwl:hasExactSynonym"}
    with open(path, "w") as fh:
        fh.write(
            '<?xml version="1.0"?>\n<rdf:RDF '
            'xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
            'xmlns:owl="http://www.w3.org/2002/07/owl#" '
            'xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#" '
            f'xmlns:oboInOwl="{OBO_NS}">\n'
            '<owl:Ontology rdf:about="http://example.org/scale"/>\n'
        )
        for c in ont.concepts:
            if c["iri"] == OWL_THING:
                continue
            body = [
                f"<{tag[s['prop']]}>{escape(s['synonym'])}</{tag[s['prop']]}>"
                for s in syns.get(c["iri"], [])
            ]
            body += [f'<rdfs:subClassOf rdf:resource="{p}"/>'
                     for p in parents.get(c["iri"], [])]
            if c["deprecated"]:
                body.append(
                    '<owl:deprecated rdf:datatype='
                    '"http://www.w3.org/2001/XMLSchema#boolean">true</owl:deprecated>'
                )
            fh.write(f'<owl:Class rdf:about="{c["iri"]}">{"".join(body)}</owl:Class>\n')
        fh.write("</rdf:RDF>\n")


_FILLER = np.array(
    "please summarize latest update regarding deployment verify numbers thanks "
    "okay looking into details now checking results output ready soon".split()
)


def write_planted_corpus(path: str, ont, n_turns: int, seed: int) -> list[tuple[str, int]]:
    """Turns of filler words; ~10% carry one term drawn uniformly from the
    whole dictionary (display or synonym, deprecated concepts included).
    Returns the planted (term, row id) pairs."""
    terms = sorted({s["synonym"] for s in ont.synonyms})
    rng = np.random.default_rng(seed)
    words = _FILLER[rng.integers(0, len(_FILLER), size=(n_turns, 10))]
    text = [" ".join(w) for w in words]
    planted_rows = np.flatnonzero(rng.random(n_turns) < 0.10)
    picks = rng.integers(0, len(terms), size=len(planted_rows))
    planted = []
    for row, k in zip(planted_rows.tolist(), picks.tolist()):
        text[row] = f"{text[row]} {terms[k]} okay"
        planted.append((terms[k], row))
    ids = np.arange(n_turns)
    table = pa.table(
        {
            "conv_id": [f"conv{i}" for i in ids // TURNS_PER_CONV],
            "turn_idx": pa.array(ids % TURNS_PER_CONV, pa.int32()),
            "role": pa.array(["user"] * n_turns),
            "text": pa.array(text),
            "tool": pa.nulls(n_turns, pa.string()),
            "ts": pa.array(
                np.datetime64("2026-01-01T00:00:00", "us")
                + (ids % 1440).astype("timedelta64[m]"),
                pa.timestamp("us"),
            ),
        }
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))
    return planted


def relabeled_qops():
    """The qops fixture with one concept relabelled to a term no corpus
    turn contains: a one-code release delta. Returns (ontology, config,
    relabelled code)."""
    from fhir_owl_spark import fixtures as fx

    ont, cfg = fx.query_ops_fixture()
    old, new = "window", "window frame"
    concepts = [dict(c, label=new) if c["label"] == old else c for c in ont.concepts]
    synonyms = [dict(s, synonym=new) if s["synonym"] == old else s for s in ont.synonyms]
    return fx.Ontology(concepts=concepts, edges=ont.edges, synonyms=synonyms), cfg, "Window"


def write_ontology_tables(ont, root: str) -> None:
    """Ontology as the three parquet tables the CLI's --concepts/--edges/
    --synonyms read."""
    from fhir_owl_spark.schemas import ONTOLOGY_CONCEPTS, ONTOLOGY_EDGES, ONTOLOGY_SYNONYMS

    for name, rows, schema in (
        ("concepts", ont.concepts, ONTOLOGY_CONCEPTS),
        ("edges", ont.edges, ONTOLOGY_EDGES),
        ("synonyms", ont.synonyms, ONTOLOGY_SYNONYMS),
    ):
        cols = {f.name: [r[f.name] for r in rows] for f in schema.fields}
        os.makedirs(f"{root}/{name}", exist_ok=True)
        pq.write_table(pa.table(cols), f"{root}/{name}/part-00000.parquet")


def digest(path: str) -> str:
    """Content digest of a file, or of every data file under a directory
    in path order (Spark's part files sort by part number, so two writes
    of equal content give equal digests despite their random names)."""
    h = hashlib.sha256()
    files = [path] if os.path.isfile(path) else [
        os.path.join(d, f)
        for d, _dirs, names in sorted(os.walk(path))
        for f in sorted(names)
        if not f.startswith((".", "_"))
    ]
    for f in files:
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


# ---------------------------------------------------------------------------
# Oracles
# ---------------------------------------------------------------------------


def score(out_rows, expected: set, in_scope) -> tuple[float, float]:
    """Precision and recall of committed (subj, pred, obj) rows against
    the expected set, over the rows ``in_scope`` selects. A duplicated
    output row counts as a wrong row."""
    rows = [r for r in out_rows if in_scope(r)]
    exp = {t for t in expected if in_scope(t)}
    good = {r for r in rows if r in exp}
    precision = len(good) / len(rows) if rows else float(not exp)
    recall = len(good) / len(exp) if exp else 1.0
    return precision, recall


def sample_convs(n_turns: int) -> set[str]:
    return {f"conv{k}" for k in range(0, n_turns // TURNS_PER_CONV, SAMPLE_EVERY)}


def sampled_turns(spark, corpus: str, convs: set[str]) -> list[dict]:
    from pyspark.sql import functions as F

    return [
        r.asDict()
        for r in spark.read.parquet(corpus)
        .filter(F.col("conv_id").isin(sorted(convs)))
        .select("conv_id", "text")
        .collect()
    ]


def qops_expected(spark, corpus: str, n_turns: int, ont, cfg):
    """Expected triples of a qops-corpus build: every ontology triple, and
    the mention triples of the sampled conversations."""
    from fhir_owl_spark import fixtures as fx

    convs = sample_convs(n_turns)
    expected = fx.model_build_graph(ont, [], cfg)
    rows = fx.model_concept_rows(ont, cfg)
    expected |= fx.model_mentions(rows, sampled_turns(spark, corpus, convs), cfg)
    return expected, convs


def planted_expected(ont, cfg, planted: list[tuple[str, int]]):
    """Expected triples of the planted corpus: every ontology triple, and
    one mention per planted linkable term."""
    from fhir_owl_spark import fixtures as fx

    expected = fx.model_build_graph(ont, [], cfg)
    code_of = {}
    for r in fx.model_concept_rows(ont, cfg).values():
        if not r["deprecated"]:
            for t in {r["display"], *r["synonyms"]}:
                code_of[t] = r["code"]
    for term, row in planted:
        if term in code_of:
            expected.add((code_of[term], "mentions-in", f"conv{row // TURNS_PER_CONV}"))
    return expected
