"""Custom stateful streaming operator: incremental per-conversation
triple extraction with applyInPandasWithState.

The batch pipeline's 2-turn window becomes keyed streaming state: for
each conv_id, the state holds (last turn_idx, last entity set), so
triples emit incrementally as turns arrive. Each group invocation runs
the fused batch kernel's own steps (linking.link_and_extract):
linking._link_rows links the turns, and linking._triples_frame emits
them under spec's turn-window rule (spec.window_triples) with the
state as the window carry — a turn that does not follow the stored
last turn starts a new window, and a repeat of the stored last turn
raises spec's duplicate_key_error."""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from grisp_spark.kg import linking, spec

OUTPUT_SCHEMA = linking.TRIPLES_SCHEMA
STATE_SCHEMA = "last_turn int, ents array<long>"


def make_processor(gaz_bc, evec_bc, canon_bc):
    """Returns the applyInPandasWithState function closed over the
    broadcast KB structures."""
    # driver-side stable broadcast ids — the executor-local index and
    # vector-pack cache keys (process() is invoked once PER
    # CONVERSATION GROUP per micro-batch; rebuilding either each time
    # would scan the whole KB per group)
    cache_key = gaz_bc._jbroadcast.id()
    evec_key = evec_bc._jbroadcast.id()

    def process(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        gaz = gaz_bc.value
        (conv_id,) = key
        batches = list(pdfs)
        if not batches:  # timeout-only invocation: nothing to emit
            yield pd.DataFrame(
                {"conv_id": [], "turn_idx": [], "subj": [], "pred": [], "obj": []}
            )
            return
        rows = pd.concat(batches, ignore_index=True).sort_values(
            "turn_idx", kind="stable"
        )
        if state.exists:
            last_turn, ents = state.get
            carry = (conv_id, last_turn, set(ents))
        else:
            carry = spec.NO_TURN
        picked_by_row = linking._link_rows(
            rows["text"].tolist(), gaz, evec_bc.value,
            linking._first_token_index(gaz, cache_key), "centroid", None,
            evec_key,
        )
        triples, (_, last_turn, ents) = linking._triples_frame(
            rows, picked_by_row, canon_bc.value.get, carry
        )
        state.update((int(last_turn), sorted(ents)))
        yield triples

    return process


def streaming_triples(stream_conv, gaz_bc, evec_bc, canon_bc):
    """conversations stream → incremental triples stream."""
    return (
        stream_conv.groupBy("conv_id")
        .applyInPandasWithState(
            make_processor(gaz_bc, evec_bc, canon_bc),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            # NoTimeout keeps the drained stream quiescent (a timeout
            # conf schedules perpetual cleanup micro-batches, which
            # never lets processAllAvailable() return in tests). In a
            # 24/7 deployment use EventTimeTimeout + a watermark to
            # expire conversations idle past the lateness bound.
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
