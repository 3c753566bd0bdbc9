"""CEP over register patterns (SREMO/NSRA, B14): per-key ordered
nondeterministic execution with configurations (state, valuation).

Reference semantics: fsm/symbolic/sra/SRA.scala
(yieldsSuccessorConfigWithEpsilon — configuration sets advanced per
event), Configuration.scala (state + valuation), Valuation.scala
(register -> stored event), with the SREMO window mandatory
(docs/lang.md:129-135).  A run terminates when it reaches a final
state (full match) or when its window expires.

Physical strategy is operators/cep.py's ``run_spec`` of the register
kernel spec (``_RegisterSpec``, which the streaming fast path runs
too): its ``key_sorted`` shuffle and ONE mapInPandas pass over its key
walk, carrying open-key configurations across Arrow batches.  The
shuffle payload is (key, ts, id, bits, <register attrs>): every
register-free predicate is folded JVM-side into the bit-encoded
``bits`` column, so Python evaluates only the register comparisons.

Scale: live configurations per key are window-bounded (count window w
-> at most w concurrent runs), so per-key state is O(w·|registers|)
regardless of stream length; the shuffle is the same single hash
exchange as the deterministic operator.
"""

from __future__ import annotations

import pickle

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_rtcef_spark.operators.cep import (
    _DET_FIELDS,
    DET_SCHEMA,
    KernelOperator,
    _KernelSpec,
    _out_schema,
)
from flink_rtcef_spark.plans.nsra import CompiledRegisterPattern


def _val_key(valuation: dict) -> tuple:
    return tuple(
        (reg, tuple(sorted((k, v) for k, v in stored.items())))
        for reg, stored in sorted(valuation.items())
    )


def _run_nsra_segment(
    bits,
    ts,
    event_ids,
    attr_arrays: dict,
    table: dict,
    finals: frozenset,
    start_states: tuple,
    window: int,
    window_type: str,
    init=None,
    enumerate_matches: bool = False,
):
    """Config-set run over one key segment.  ``init`` carries the
    previous batch's (configs, counter) for the same key.  Returns
    (detections, carry).  configs: {(state, val_key, min_counter,
    matched): (valuation, min_ts, n_matched)} — ``matched`` is the
    tuple of TAKE-event ids (Match.scala:17-54's events list) and is
    always () unless ``enumerate_matches``.

    Detection rows: (event_id, ts, counter, min_counter, n_matched)
    — one per event with >=1 full match, earliest-start first; with
    ``enumerate_matches``, one row PER full match with its matched-id
    list appended (the reference's nondeterministic run path,
    ERFEngine.processEventAtRunNonDet:295, enumerates every match)."""
    out = []
    configs, counter = init if init is not None else ({}, 0)
    attr_names = list(attr_arrays)
    n = len(bits)
    for i in range(n):
        counter += 1
        b = int(bits[i])
        t = int(ts[i])
        eid = int(event_ids[i])
        ev = {a: attr_arrays[a][i] for a in attr_names}
        # seed a fresh run at every event (streaming Sigma*;f semantics)
        for s in start_states:
            configs.setdefault((s, (), -1, ()), ({}, -1, 0))
        nxt: dict = {}
        best = None  # (min_counter, -n_matched) of accepting configs
        emitted: set = set()  # matched tuples emitted at this event
        for (state, vkey, min_counter, matched), (
            valuation,
            min_ts,
            n_matched,
        ) in configs.items():
            # window check (Run.checkRuntimeWindow:221-238 analogue):
            # an expired run simply dies — nondeterministic runs don't
            # restart, the per-event seeding covers that.
            if window > 0 and min_counter != -1:
                span = (counter - min_counter) if window_type == "count" else (t - min_ts)
                if span >= window:
                    continue
            for guard, dst_closure, take, writes in table.get(state, ()):
                if not guard(b, ev, valuation):
                    continue
                if writes:
                    stored = {a: ev[a] for a in attr_names}
                    new_val = dict(valuation)
                    for r in writes:
                        new_val[r] = stored
                else:
                    new_val = valuation
                if take:
                    nmc = min_counter if min_counter != -1 else counter
                    nmt = min_ts if min_counter != -1 else t
                    nnm = n_matched + 1
                    nmatched = matched + (eid,) if enumerate_matches else ()
                else:
                    nmc, nmt, nnm = min_counter, min_ts, n_matched
                    nmatched = matched
                for dst in dst_closure:
                    if dst in finals:
                        if enumerate_matches:
                            if nmatched not in emitted:
                                emitted.add(nmatched)
                                out.append(
                                    (eid, t, counter, int(nmc), int(nnm), list(nmatched))
                                )
                        else:
                            cand = (nmc, -nnm)
                            if best is None or cand < best:
                                best = cand
                        continue  # full match: the run terminates
                    k = (dst, _val_key(new_val) if writes else vkey, nmc, nmatched)
                    prev = nxt.get(k)
                    if prev is None or nnm > prev[2]:
                        nxt[k] = (new_val, nmt, nnm)
        configs = nxt
        if not enumerate_matches and best is not None:
            out.append((eid, t, counter, int(best[0]), int(-best[1])))
    return out, (configs, counter)


class _RegisterSpec(_KernelSpec):
    """The register kernel, ``_run_nsra_segment``: its (configs,
    counter) carry is stored as ``counter`` and the pickled config set,
    and unpickled only for a key with events in the batch.  With
    ``enumerate_matches`` each row is one full match with its
    ``matched_event_ids`` — a batch-only kernel, with no state row."""

    out = _out_schema(_DET_FIELDS, [*_DET_FIELDS[2:], ("blob", "binary")])

    def __init__(self, compiled, enumerate_matches: bool = False):
        self.compiled = compiled
        self.patterns = (compiled,)
        self.key = compiled.partition_by
        self.attrs = list(compiled.register_attrs)
        self.event_cols = ["key", "ts", "event_id", "bits", *self.attrs]
        self.table = compiled.table
        self.finals = frozenset(compiled.nsra.finals)
        self.start_states = compiled.start_states
        self.window, self.window_type = compiled.window, compiled.window_type
        self.enumerate_matches = enumerate_matches
        if enumerate_matches:
            matched = ("matched_event_ids", "array<long>")
            self.out = _out_schema(
                [*_DET_FIELDS, matched], [], f"{DET_SCHEMA}, {' '.join(matched)}"
            )

    def columns(self) -> list:
        """Static predicates fold into the JVM ``bits`` column; only
        register comparisons reach the Python kernel."""
        return [
            self.compiled.bits_column().alias("bits"),
            *[F.col(a) for a in self.attrs],
        ]

    @staticmethod
    def load(counter, _min_counter, _n_matched, blob):
        return pickle.loads(blob), int(counter)

    def step(self, cols, seg, carry):
        return _run_nsra_segment(
            cols["bits"][seg],
            cols["ts"][seg].astype("int64"),
            cols["event_id"][seg].astype("int64"),
            {a: cols[a][seg] for a in self.attrs},
            self.table, self.finals, self.start_states, self.window,
            self.window_type, carry, self.enumerate_matches,
        )

    @staticmethod
    def dump(carry):
        configs, counter = carry
        return int(counter), None, None, pickle.dumps(configs)


class RegisterCEP(KernelOperator):
    """Batch recognition for register (SREMO) patterns: ``detections``
    gives one row per event completing >=1 full match (earliest start
    reported), in BatchCEP's columns.

    >>> cp = compile_register_pattern(';(IsEventTypePredicate(view)["x"],'
    ...     '^(IsEventTypePredicate(click),GTAttr(value,"x")))'
    ...     '{partitionBy:user_id}{window:2}')
    >>> RegisterCEP(cp, ts_col="ts", id_col="event_id").detections(events)
    """

    def __init__(
        self,
        compiled: CompiledRegisterPattern,
        key_col: str | None = None,
        ts_col: str = "timestamp",
        id_col: str = "id",
    ):
        super().__init__(_RegisterSpec(compiled), key_col, ts_col, id_col)
        self.compiled = compiled

    def matches(self, df: DataFrame) -> DataFrame:
        """Match ENUMERATION (F2, the nondeterministic run path): one
        row per full match with ``matched_event_ids`` = the TAKE-event
        id list (Match.scala events list).  Combinatorial under
        skip-till selection — same inherent cost as the reference's
        non-det runs; the window bounds it."""
        return self._run(_RegisterSpec(self.compiled, enumerate_matches=True), df)
