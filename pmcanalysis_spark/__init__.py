"""pmcanalysis_spark — a PySpark-native knowledge-graph construction engine.

A from-scratch reimagining of the query/data-processing semantics of
bio-ontology-research-group/pmcanalysis (reference at /root/reference, read-only)
as idiomatic Spark DataFrame jobs over Common-Crawl-style web-page tables:

    web_pages(url, warc_ts, html, text, lang)
      → extracted(url, text)                 [byte-identical HTML→text, Arrow UDF]
      → sentences(url, sent_idx, sentence)
      → mentions(url, sent_idx, term_id, name, begin, end)   [broadcast Aho-Corasick]
      → doc_term_sets(doc_id, term_ids)      [one row per doc, hierarchy-closed]
      → pair_counts(a_id, b_id, nab)         [explode × explode per set, salted agg]
      → triples(subj, pred, obj, tscore, zscore, lmi, npmi, lgl, nab, na, nb)
      → entities(...)                        [connected-components canonicalization]

Everything is declarative DataFrame/SQL so Catalyst handles pushdown, pruning,
join selection and AQE; the only Python-boundary code is three Arrow-batched
pandas UDF stages (extract / sentence+NER / link-score).
"""

__version__ = "0.1.0"
