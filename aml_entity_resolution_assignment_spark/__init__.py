"""PySpark-native entity-resolution / record-linkage engine.

A from-scratch reimplementation of the match semantics of the reference
repo JakubGorgon/AML-entity-resolution-assignment (pandas + SQLite +
networkx PoC), re-expressed as an idiomatic Spark DataFrame pipeline over
web-page records at Common-Crawl scale:

    pages (url, warc_ts, html, text, lang)
      -> normalize (hostname / title / text)           functions.normalize
      -> blocking keys (host, title, minhash/simhash)  operators.blocking
      -> candidate pairs (grouped block emission)      operators.candidates
      -> pairwise features (Arrow-batched kernels)     operators.features
      -> classify (rule cascade + logistic model)      operators.classify
      -> entity clusters (connected components)        operators.cluster
      -> pairwise P/R/F1 evaluation                    operators.evaluate

Candidate pairs come from one grouping of the (key, id) table into
blocks; each block emits its pairs, and hot blocks split into salted
chunk pairs. Connected components finish with one driver union-find
pass when the match edges fit DRIVER_CC_EDGES, and run distributed
large-star/small-star rounds above it.

Everything is DataFrame-in / DataFrame-out; the only Python execution is
inside Arrow-batched pandas UDFs (no per-row Python, no RDDs). The
subpackages' __init__ modules import nothing: import each submodule
directly, so a Python worker loads only the modules its UDF needs.
"""

__version__ = "0.1.0"
