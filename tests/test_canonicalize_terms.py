from __future__ import annotations

from pmcanalysis_spark.canonicalize import canonicalize_terms, rewrite_triples_canonical


def test_canonicalize_terms_merges_shared_names(spark):
    lex = spark.createDataFrame(
        [
            ("tremor", "HP:2", "name"),
            ("tremor", "MP:2", "name"),       # shares name with HP:2
            ("mesh:x1", "MP:2", "xref"),
            ("mesh:x1", "DOID:9", "xref"),    # shares xref with MP:2
            ("anemia", "DOID:1", "name"),     # singleton
        ],
        "name string, term_id string, kind string",
    )
    canon = {r.term_id: r.canonical_id for r in canonicalize_terms(lex).collect()}
    # HP:2 -- MP:2 -- DOID:9 one entity; min id canonical
    assert canon["HP:2"] == canon["MP:2"] == canon["DOID:9"] == "DOID:9"
    assert canon["DOID:1"] == "DOID:1"


def test_rewrite_triples_canonical_reaggregates(spark):
    triples = spark.createDataFrame(
        [
            ("HP:2", "p", "DOID:1", 3, 10, 5, 0.5),
            ("MP:2", "p", "DOID:1", 4, 8, 5, 0.7),
        ],
        "subj string, pred string, obj string, nab long, na long, nb long, npmi double",
    )
    canon = spark.createDataFrame(
        [("HP:2", "DOID:9"), ("MP:2", "DOID:9")], "term_id string, canonical_id string"
    )
    out = rewrite_triples_canonical(triples, canon).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.subj, r.obj) == ("DOID:9", "DOID:1")
    assert r.nab == 7 and r.npmi == 0.7


def _canon(spark, rows):
    lex = spark.createDataFrame(rows, "name string, term_id string, kind string")
    return sorted(
        ((r.term_id, r.canonical_id) for r in canonicalize_terms(lex).collect()),
        key=lambda r: (r[0] is None, r[0] or ""),
    )


def test_canonicalize_terms_xref_only_merge(spark):
    assert _canon(spark, [
        ("umls:c1", "HP:5", "xref"),
        ("umls:c1", "DOID:7", "xref"),
    ]) == [("DOID:7", "DOID:7"), ("HP:5", "DOID:7")]


def test_canonicalize_terms_chain_across_name_and_xref_keys(spark):
    """A -name- B -xref- C -name- D is one entity; a name key and an xref
    key with the same text pool too."""
    assert _canon(spark, [
        ("pallor", "MP:4", "name"),
        ("pallor", "HP:3", "name"),
        ("mesh:d1", "HP:3", "xref"),
        ("mesh:d1", "CHEBI:8", "xref"),
        ("ataxia", "CHEBI:8", "name"),
        ("ataxia", "HP:9", "xref"),
    ]) == [("CHEBI:8", "CHEBI:8"), ("HP:3", "CHEBI:8"),
           ("HP:9", "CHEBI:8"), ("MP:4", "CHEBI:8")]


def test_canonicalize_terms_other_kinds_never_merge(spark):
    assert _canon(spark, [
        ("tremor", "HP:2", "synonym"),
        ("tremor", "MP:2", "synonym"),
        ("tremor", "DOID:3", None),
    ]) == [("DOID:3", "DOID:3"), ("HP:2", "HP:2"), ("MP:2", "MP:2")]


def test_canonicalize_terms_null_name_never_merges(spark):
    assert _canon(spark, [
        (None, "HP:2", "name"),
        (None, "MP:2", "name"),
        (None, "DOID:3", "xref"),
    ]) == [("DOID:3", "DOID:3"), ("HP:2", "HP:2"), ("MP:2", "MP:2")]


def test_canonicalize_terms_null_term_id_maps_once_to_null(spark):
    assert _canon(spark, [
        ("tremor", None, "name"),
        ("tremor", None, "name"),
        ("tremor", "HP:2", "name"),
        ("anemia", "MP:1", "name"),
    ]) == [("HP:2", "HP:2"), ("MP:1", "MP:1"), (None, None)]


def test_canonicalize_terms_empty_lexicon(spark):
    lex = spark.createDataFrame([], "name string, term_id string, kind string")
    out = canonicalize_terms(lex)
    assert out.collect() == []
    assert out.schema.simpleString() == "struct<term_id:string,canonical_id:string>"
