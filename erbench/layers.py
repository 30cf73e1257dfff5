"""Spans around the program's public layer functions, installed at run time
for the traced ops of a run and removed after them.  The ops are the same
code in both modes; with the wrappers installed, every call an op makes
into a wrapped function, however deep in the program, gets a span.

    uninstall = layers.install(tracer)
    ...                                  # run ops
    uninstall()

Span names are ``<layer>.<call>``:

  pipeline.materialize     ResolutionJob.materialize (re-entrant calls fold
                           into the outer span); counter stage_bytes
  pipeline.resolve_input   ResolutionJob.resolve_input
  input.seed_docs          ResolutionJob.seed_docs; counter rows
  compiler.edges           ResolutionJob.match_edges; counters rows,
                           pairs_rows, pairs_s, keys_rows
  cluster.cc               connected_components_by_hash; counter components
  cluster.lp               bounded_label_propagation; counter hops
  incremental.add          IncrementalResolver.add; counters bytes_written,
                           delta_edges

Sizes that need a Spark job (row counts, the candidate-pair derivation
time) are taken by deferred probes.  They run in an untimed section after
the op's own work, or when the job that owns the counted stages is
unpersisted, so they neither add to any span's time nor warm a plan the op
has yet to run.
"""

from __future__ import annotations

import functools
import os
import time


def dir_bytes(path: str | None) -> int:
    total = 0
    for d, _dirs, files in os.walk(path) if path else ():
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


def spanned(tr, fn, name: str, before=None, after=None):
    """``fn`` wrapped in a span ``name``.  ``before(*args)`` runs just
    before the span; ``after(tr, span, result, before_value, *args)`` just
    after it.  Calls from an untimed section, or from inside a span of the
    same name, pass straight through."""
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if tr.suspended or tr.innermost == name:
            return fn(*args, **kwargs)
        pre = before(*args) if before else None
        with tr.span(name) as s:
            out = fn(*args, **kwargs)
        if after:
            after(tr, s, out, pre, *args)
        return out
    return wrapper


def settling(tr, fn):
    """``fn(job, ...)`` that first runs the probes deferred on ``job``."""
    @functools.wraps(fn)
    def wrapper(job, *args, **kwargs):
        tr.settle(key=job)
        return fn(job, *args, **kwargs)
    return wrapper


# ---- counters, by wrapped function ----

def _stage_bytes(job, *_):
    return dir_bytes(job._ckpt_dir)


def _materialized(tr, s, _out, b0, job, *_):
    s.counters["stage_bytes"] = dir_bytes(job._ckpt_dir) - b0


def _edges(tr, s, edges, _pre, job, *_):
    def probe():
        s.counters["rows"] = edges.count()
        t = time.perf_counter()
        s.counters["pairs_rows"] = job.candidate_pairs().count()
        s.counters["pairs_s"] = time.perf_counter() - t
        s.counters["keys_rows"] = job.keys().count()
    tr.defer(probe, key=job)


def _seeds(tr, s, seeds, *_):
    def probe():
        s.counters["rows"] = seeds.count()
    tr.defer(probe)


def _components(tr, s, labels, *_):
    def probe():
        s.counters["components"] = \
            labels.select("entity_id").distinct().count()
    tr.defer(probe)


def _hops(tr, s, reached, *_):
    def probe():
        from pyspark.sql import functions as F
        s.counters["hops"] = reached.agg(F.max("hop")).first()[0] or 0
    tr.defer(probe)


def _state_bytes(resolver, *_):
    return dir_bytes(resolver.state_dir)


def _folded(tr, s, _out, b0, resolver, *_):
    s.counters["bytes_written"] = dir_bytes(resolver.state_dir) - b0
    s.counters["delta_edges"] = resolver.last_delta_edges


def install(tr):
    """wrap the layer functions with spans recorded by ``tr``; returns the
    function that restores the originals."""
    from zentity_spark import pipeline
    from zentity_spark.operators import cluster, incremental
    job = pipeline.ResolutionJob
    resolver = incremental.IncrementalResolver
    patches = [
        (job, "materialize", spanned(tr, job.materialize,
                                     "pipeline.materialize",
                                     _stage_bytes, _materialized)),
        (job, "resolve_input", spanned(tr, job.resolve_input,
                                       "pipeline.resolve_input")),
        (job, "seed_docs", spanned(tr, job.seed_docs, "input.seed_docs",
                                   after=_seeds)),
        (job, "match_edges", spanned(tr, job.match_edges, "compiler.edges",
                                     after=_edges)),
        (job, "unpersist", settling(tr, job.unpersist)),
        (resolver, "add", spanned(tr, resolver.add, "incremental.add",
                                  _state_bytes, _folded)),
    ]
    # the operators are imported by name into each module that calls them
    for mod in (cluster, pipeline, incremental):
        for fn, name, after in (
                ("connected_components_by_hash", "cluster.cc", _components),
                ("bounded_label_propagation", "cluster.lp", _hops)):
            if hasattr(mod, fn):
                patches.append((mod, fn, spanned(tr, getattr(mod, fn), name,
                                                 after=after)))
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in patches]
    for owner, attr, new in patches:
        setattr(owner, attr, new)

    def uninstall():
        for owner, attr, old in saved:
            setattr(owner, attr, old)
    return uninstall
