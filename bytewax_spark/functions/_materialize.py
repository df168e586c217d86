"""The function library's one materialization policy.

Every intermediate table a library function keeps goes through
:func:`materialize`, which is ``df.localCheckpoint(eager=eager)``. The
kept blocks belong to the returned DataFrame: they never enter Spark's
CacheManager, no module holds them, and the ContextCleaner frees them
once the query's plan is dropped. Nothing outlives the query, so a
second session in the same process starts clean, and a later call
never reads an earlier call's table.

The rule:

1. **Materialize a table that collapses its input**: fewer rows than
   the input, and no row carries an array that grows with the text
   (MinHash signature classes, ``(fingerprint, id)`` members, the
   per-user RFM table). Use the lazy mode (``eager=False``): the table
   is computed once, at the query's first action, and every later scan
   in the plan reads the stored blocks. Its plan statistics are kept,
   so broadcast decisions above it do not change. With AQE, building
   the checkpoint runs the map stages of any exchange below it.
2. **Never materialize an exploding sliver**: a shingle, band, span or
   token-array table. Each consumer recomputes it instead. Measured on
   ``containment_pairs`` at sf1 (5.8 MB of input, 12 GB heap), warm
   reps took 22–27 s without persisting those slivers and 35–172 s
   with them: a resident multi-GB table squeezes execution memory for
   every join downstream of it.
3. **Cut lineage with an eager checkpoint** (``eager=True``) where a
   driver loop needs the result at once: the per-round tables of the
   iterative graph and BPE loops, and the small aggregates the graph,
   retrieval and tokenizer functions read several times.

Each call logs one DEBUG line on this module's logger with the calling
function, the mode and ``why``.
"""

from __future__ import annotations

import logging
import sys

from pyspark.sql import DataFrame

_log = logging.getLogger(__name__)


def materialize(df: DataFrame, why: str, eager: bool = False) -> DataFrame:
    """Checkpoint ``df`` for the rest of its query; ``why`` says which
    part of the rule above applies (it goes to the DEBUG log)."""
    caller = sys._getframe(1)
    _log.debug(
        "materialize %s.%s eager=%s: %s",
        caller.f_globals.get("__name__", "?"),
        caller.f_code.co_name,
        eager,
        why,
    )
    return df.localCheckpoint(eager=eager)
