"""Structured Streaming twins of the batch operators (SURVEY.md §2.8).

Minerva emulates streaming with polling harvesters + delayed
incremental materialization; Spark's native streaming is strictly more
capable.  The mapping:

- harvest polling            → file-source ``readStream``
- per-bucket materialization → tumbling ``window()`` aggregation
- stability/processing delay → ``withWatermark``
- reprocessing_period        → batch backfill (operators/materialization.py)
- trigger evaluation         → ``foreachBatch`` over the trigger rules
"""


# ---- shared by the registered data sources (*_source.py)

def option(options: dict, name: str, default=None):
    """Spark normalizes reader/writer option keys to lowercase before
    they reach a Python data source — look keys up case-insensitively
    so `.option("startingVersion", …)` works as documented."""
    lowered = {str(k).lower(): v for k, v in options.items()}
    return lowered.get(name.lower(), default)


def preds_from_filters(filters, names: set) -> list[tuple]:
    """Spark Filter objects → the engine's ``(col, op, lit)``
    predicate shape, keeping only single-column comparison filters
    over known top-level columns.  Used for SCAN PLANNING only — the
    caller always hands every filter back to Spark (`pushFilters`
    returns "filters that still need to be evaluated"), so pruning
    can never change results, only skip provably-excluded files."""
    from pyspark.sql.datasource import (EqualTo, GreaterThan,
                                        GreaterThanOrEqual, LessThan,
                                        LessThanOrEqual)

    ops = {EqualTo: "=", GreaterThan: ">", GreaterThanOrEqual: ">=",
           LessThan: "<", LessThanOrEqual: "<="}
    preds = []
    for f in filters:
        op = ops.get(type(f))
        if op is None or len(f.attribute) != 1:
            continue
        col = f.attribute[0]
        if col in names:
            preds.append((col, op, f.value))
    return preds
