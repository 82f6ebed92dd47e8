"""The workloads: one batch pass each, plus the output check.

A pass drives the program only through its public functions. Every
call into a layer runs inside `tracer.span(<layer>)`; in a traced run
`tracer.cut(df)` also caches and counts the layer's output there, so the
layer's Spark jobs run (and are attributed) inside its own span, and
`tracer.count` records a layer counter (evaluated after the pass's
timed region). In an untraced run all three are no-ops and the plan is
the program's own.
"""

from __future__ import annotations

import os
import xml.etree.ElementTree as ET

from pyspark.sql import functions as F

from gen import DD_N, DD_THRESHOLD, FK_ROOTS, PR_TS_PATTERN

# what parse_documents reads; selecting it up front lets the traced
# run's sources cut cache the scan without the html column
DOC_COLS = ("url", "warc_ts", "text", "lang")


def _read_docs(spark, path, tracer):
    from redo_log_parser_spark.sources.documents import read_documents

    with tracer.span("sources"):
        return tracer.cut(read_documents(spark, path).select(*DOC_COLS))


def _parse_to_fanout(spark, inp, out_dir, cfg, tracer):
    """The layers parse_route and fk_traces share: read → parse →
    uniquify → enrich → fan-out write. Returns (events, enriched,
    routed counts); events is cached as in pipeline.run_pipeline."""
    from redo_log_parser_spark.functions.parse import parse_documents
    from redo_log_parser_spark.operators.rowid import uniquify_row_ids
    from redo_log_parser_spark.pipeline import enrich
    from redo_log_parser_spark.sinks.fanout import write_fanout

    docs = _read_docs(spark, inp["docs"], tracer)
    with tracer.span("parse"):
        parsed = tracer.cut(parse_documents(docs, cfg))
    with tracer.span("rowid"):
        events = tracer.cut(uniquify_row_ids(parsed).cache())
    with tracer.span("enrich"):
        enriched = tracer.cut(enrich(events, inp["table_dict"], inp["lang_map"]))
    with tracer.span("fanout"):
        routed = write_fanout(enriched, out_dir)
    tracer.count("parse", "rows_in", lambda: inp["rows"])
    tracer.count("parse", "clean_rows", lambda: sum(
        routed[k] for k in ("sink_insert", "sink_update", "sink_delete")))
    tracer.count("rowid", "incarnations", lambda: events.filter(
        F.col("row_id") != F.col("orig_row_id")).count())
    tracer.count("fanout", "files_written", lambda: _data_files(out_dir))
    return events, enriched, routed


def _data_files(out_dir: str) -> int:
    """Data files in the fan-out sinks (no _SUCCESS or .crc files)."""
    return sum(
        1 for sink in ("events_by_op", "rejects")
        for _, _, files in os.walk(os.path.join(out_dir, sink))
        for f in files if not f.startswith(("_", "."))
    )


# --------------------------------------------------------------- parse_route

def parse_route_pass(spark, inp, out_dir, tracer):
    """The fan-out layers, then rows and distinct entities per
    (op, table_id) over the routed events."""
    from redo_log_parser_spark.config import PipelineConfig

    cfg = PipelineConfig(ts_format_java=PR_TS_PATTERN)
    events, enriched, routed = _parse_to_fanout(spark, inp, out_dir, cfg, tracer)
    with tracer.span("aggregate"):
        agg = (
            enriched.filter(F.col("parse_error").isNull())
            .groupBy("op", "table_id")
            .agg(F.count("*").alias("rows"),
                 F.countDistinct("row_id").alias("entities"))
            .collect()
        )
    tracer.finish()
    events.unpersist()
    return {
        "routed": routed,
        "per_op_table": {f"{r['op']}|{r['table_id']}": [r["rows"], r["entities"]]
                         for r in agg},
    }


def check_parse_route(out, truth) -> list[str]:
    bad = []
    if out["routed"] != truth["routed"]:
        bad.append(f"routed {out['routed']} != {truth['routed']}")
    if out["per_op_table"] != truth["per_op_table"]:
        keys = set(out["per_op_table"]) | set(truth["per_op_table"])
        diff = sorted(k for k in keys if out["per_op_table"].get(k)
                      != truth["per_op_table"].get(k))
        bad.append(f"aggregate differs on {diff[:3]}")
    return bad


# ----------------------------------------------------------------- fk_traces

def fk_traces_pass(spark, inp, out_dir, tracer):
    """pipeline.run_pipeline with both roots and the .xes documents. The
    traced run calls the same public steps one layer at a time."""
    from redo_log_parser_spark.config import PipelineConfig
    from redo_log_parser_spark.pipeline import _safe_root_names, run_pipeline
    from redo_log_parser_spark.sources.documents import read_documents

    cfg = PipelineConfig(root_classes=FK_ROOTS, xes_document=True)
    if tracer.enabled:
        routed, schema, n_traces = _fk_traces_layered(spark, inp, out_dir, cfg, tracer)
    else:
        res = run_pipeline(read_documents(spark, inp["docs"]), out_dir, cfg,
                           inp["table_dict"], inp["lang_map"])
        routed, schema, n_traces = res.routed_counts, res.schema, res.n_traces_by_root
    names = _safe_root_names(cfg.all_root_classes)
    return {
        "routed": routed,
        "pks": sorted([t, c] for t, c in schema.pk_candidates()),
        "fks": sorted(list(f) for f in schema.fk_pairs()),
        "traces": dict(n_traces),
        "xes": {rc: os.path.join(out_dir, f"{names[rc]}_result.xes")
                for rc in cfg.all_root_classes},
    }


def _fk_traces_layered(spark, inp, out_dir, cfg, tracer):
    """pipeline.run_pipeline's steps, in its order, cut at each layer."""
    from redo_log_parser_spark.functions.xes import (
        trace_xml, trace_xml_pretty, with_xes_columns)
    from redo_log_parser_spark.operators.schema_discovery import (
        discover_schema, summarize_schema)
    from redo_log_parser_spark.operators.traces import (
        assign_entries, collect_traces, entity_edges, propagate_cases,
        root_cases)
    from redo_log_parser_spark.pipeline import _safe_root_names
    from redo_log_parser_spark.sinks.xes import write_xes_document

    events, enriched, routed = _parse_to_fanout(spark, inp, out_dir, cfg, tracer)
    clean = enriched.filter(F.col("parse_error").isNull())
    with tracer.span("schema_discovery"):
        schema = summarize_schema(*discover_schema(clean))
    n_traces = {}
    names = _safe_root_names(cfg.all_root_classes)
    for rc in cfg.all_root_classes:
        with tracer.span("traces"):
            with tracer.span("edges"):
                edges = tracer.cut(entity_edges(clean, schema))
            with tracer.span("roots"):
                roots = tracer.cut(root_cases(clean, rc, tables=schema.tables))
            with tracer.span("propagate"):
                assignments = tracer.cut(propagate_cases(edges, roots, schema, rc))
            with tracer.span("assign"):
                assigned = tracer.cut(with_xes_columns(
                    assign_entries(clean, assignments), cfg.include_update_values))
            with tracer.span("collect"):
                traces = tracer.cut(collect_traces(assigned, n_salt=cfg.n_salt))
                dest = (f"{out_dir}/traces_xes" if len(names) == 1
                        else f"{out_dir}/traces_xes/{names[rc]}")
                trace_xml(traces).select("case_id", "trace_xml").write.mode(
                    "overwrite").parquet(dest)
                n_traces[rc] = spark.read.parquet(dest).count()
        doc = f"{out_dir}/{names[rc]}_result.xes"
        with tracer.span("xes"):
            write_xes_document(trace_xml_pretty(traces), doc, rc, pretty=True)
        tracer.count("traces", "cases", lambda n=n_traces[rc]: n)
        tracer.count("traces", "edge_rows", edges.count)
        tracer.count("traces", "assigned_rows", assigned.count)
        tracer.count("traces", "events_in", clean.count)
        tracer.count("xes", "doc_bytes", lambda p=doc: os.path.getsize(p))
    tracer.finish()
    events.unpersist()
    return routed, schema, n_traces


def count_xes_traces(path: str) -> int:
    """Number of <trace> children of a well-formed XES <log> document;
    raises ET.ParseError on a malformed one."""
    root = ET.parse(path).getroot()

    def local(tag):  # the document declares the XES namespace
        return tag.rsplit("}", 1)[-1]

    if local(root.tag) != "log":
        raise ET.ParseError(f"root element is <{root.tag}>, not <log>")
    return sum(1 for el in root if local(el.tag) == "trace")


def check_fk_traces(out, truth) -> list[str]:
    bad = []
    for key in ("routed", "pks", "fks", "traces"):
        if out[key] != truth[key]:
            bad.append(f"{key} {out[key]} != {truth[key]}")
    for rc, path in out["xes"].items():
        try:
            n = count_xes_traces(path)
        except (OSError, ET.ParseError) as e:
            bad.append(f"xes {rc}: {e}")
            continue
        if n != truth["traces"].get(rc):
            bad.append(f"xes {rc}: {n} <trace> elements, "
                       f"expected {truth['traces'].get(rc)}")
    return bad


# -------------------------------------------------------------- dedup_dense

def dedup_dense_pass(spark, inp, out_dir, tracer):
    """ngram_jaccard_pairs → dedup_components → select_representatives,
    shaped like contract.q_dedup_components. The pairs are cached so the
    pair set can be collected for the check without a second pair
    phase."""
    from redo_log_parser_spark.caching import operator_caches
    from redo_log_parser_spark.functions.text import token_count
    from redo_log_parser_spark.operators import dedup as DD

    with tracer.span("sources"):
        # as contract._docs_wide: fan the single input file out to all cores
        docs = tracer.cut(spark.read.parquet(inp["docs"]).repartition(
            spark.sparkContext.defaultParallelism))
    with operator_caches():
        with tracer.span("dedup"):
            with tracer.span("pairs"):
                pairs = DD.ngram_jaccard_pairs(
                    docs, n=DD_N, threshold=DD_THRESHOLD).cache()
                pair_rows = pairs.select("id_a", "id_b").toPandas()
            with tracer.span("components"):
                comp = tracer.cut(DD.dedup_components(docs, pairs).cache())
            with tracer.span("representatives"):
                scored = docs.select("doc_id", token_count(F.col("text")).alias("n_tok"))
                reps = DD.select_representatives(scored, comp, score_col="n_tok")
                final = comp.join(
                    reps.select("component_id", F.col("doc_id").alias("rep_id")),
                    "component_id",
                ).select("doc_id", "component_id", "rep_id").toPandas()
        tracer.count("dedup", "pairs", lambda: len(pair_rows))
        tracer.count("dedup", "docs_in", lambda: inp["rows"])
        tracer.finish()
        comp.unpersist()
        pairs.unpersist()
    return {
        "pairs": sorted(map(list, pair_rows.itertuples(index=False, name=None))),
        "components": dict(zip(final["doc_id"].astype(int),
                               final["component_id"].astype(int))),
        "reps": dict(zip(final["component_id"].astype(int),
                         final["rep_id"].astype(int))),
    }


def check_dedup_dense(out, truth) -> list[str]:
    bad = []
    got = [tuple(p) for p in out["pairs"]]
    want = {tuple(p) for p in truth["pairs"]}
    if len(got) != len(want) or set(got) != want:
        bad.append(f"pairs: {len(want - set(got))} missing, "
                   f"{len(set(got) - want)} extra, {len(got)} rows for "
                   f"{len(want)} expected")
    for key in ("components", "reps"):
        want_map = {int(k): int(v) for k, v in truth[key].items()}
        if out[key] != want_map:
            n = sum(1 for k in want_map.keys() | out[key].keys()
                    if want_map.get(k) != out[key].get(k))
            bad.append(f"{key}: {n} entries differ")
    return bad


PASSES = {
    "parse_route": (parse_route_pass, check_parse_route),
    "fk_traces": (fk_traces_pass, check_fk_traces),
    "dedup_dense": (dedup_dense_pass, check_dedup_dense),
}
