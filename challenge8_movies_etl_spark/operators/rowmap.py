"""Per-row Arrow stages, owned in one place: the loop over a task's
Arrow batches, the walk over each batch's rows and the pandas frame
handed back to Spark. Callers write the per-row function only."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame


def row_map(df: DataFrame, fn, schema) -> DataFrame:
    """Run ``fn(*values)`` on every row of ``df`` in one
    ``mapInPandas`` stage whose output has ``schema``.

    ``values`` are the row's column values in ``df``'s column order.
    ``fn`` yields zero or more output tuples, each one row in
    ``schema``'s field order. It runs in the Python worker: what it
    closes over is unpickled once per task, so state built there (a
    cache, an automaton) is shared by all of the task's rows, and an
    exception it raises fails the action that runs the stage.
    """
    def run(batches):
        for pdf in batches:
            rows = [out for values in zip(*(c for _, c in pdf.items()))
                    for out in fn(*values)]
            if rows:
                # integer column labels: Spark takes columns by position
                yield pd.DataFrame(dict(enumerate(map(list, zip(*rows)))))

    return df.mapInPandas(run, schema)
