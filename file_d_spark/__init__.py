"""file_d_spark — a PySpark-native analytics/pipeline engine with the
query and data-processing capabilities of ozontech/file.d.

The reference (read-only at /root/reference) is a Go record-at-a-time
log pipeline daemon; this package re-expresses its data model
(SURVEY.md §1), operator inventory (§2), and execution semantics (§3)
Spark-first: a YAML pipeline config compiles to a chain of DataFrame
transformations (pure Column expressions wherever possible, so Catalyst
can optimize), with the four genuinely-stateful operators implemented
over applyInPandasWithState for streaming and window-function
equivalents for batch.

Layout:
    config.py      YAML pipeline spec -> PipelinePlan
    fields.py      dot-path field selectors <-> nested Column helpers
    doif.py        do_if / match_fields predicate tree -> Column
    decoders.py    json/cri/syslog/csv/nginx/postgres/raw -> expressions
    actions/       one module per action plugin (SURVEY.md §2.3)
    functions/     scalar libraries: token normalizer, text analysis,
                   dedup (minhash/simhash/jaccard), similarity search
    sources/       batch + streaming source builders
    sinks/         foreachBatch writers and built-in sinks
    streaming/     stateful operators (multiline join, throttle,
                   cardinality, antispam)
    engine.py      PipelinePlan -> DataFrame chain (batch & streaming)
"""

__all__ = ["Pipeline", "compile_actions", "get_spark"]

# Resolved on first use (PEP 562), so importing a submodule such as the
# Python worker daemon (pydaemon) loads no engine, actions or queries.
_LAZY = {
    "Pipeline": "file_d_spark.engine",
    "compile_actions": "file_d_spark.engine",
    "get_spark": "file_d_spark.session",
}


def __getattr__(name):
    if name not in _LAZY:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    import importlib

    return getattr(importlib.import_module(_LAZY[name]), name)

__version__ = "0.1.0"
