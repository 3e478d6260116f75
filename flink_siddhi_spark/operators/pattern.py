"""Pattern & sequence matching (CEP core) as an Arrow-batched NFA operator.

Covers the constructs exercised by the reference (SiddhiCEPITCase.java:333-382
and README.md:87-90): followed-by ``A -> B``, ``every``, strict sequences
``A , B``, quantifiers ``+ * ? <n:m>``, ``within <t>``, absence
``not X [for t]``, and per-key partitioned matching (``partition with``).

Spark-first design: there is no Catalyst primitive for NFA matching, so this
is the one operator implemented with ``applyInPandas`` (SURVEY.md §7.2). The
input streams are unioned by name, tagged, *pre-filtered to candidate rows
when semantics allow* (relaxed '->' patterns only look at matching events, so
non-candidates are dropped before the shuffle — at 100 TB this predicate
pushdown is what makes the operator feasible), hash-partitioned by the
``partition with`` key, sorted by event time within each key, and matched by
a per-key NFA whose filters are evaluated as vectorized pandas masks (one
pass per element, not per row).

Un-partitioned patterns collapse to a single task by necessity (a global
total-order match is sequential by definition — same as the reference's
single-feed operator); partitioned patterns scale with key cardinality.

Batch-mode semantics (the oracle-checked contract):
- events are totally ordered by (event-time, declared fields);
- without ``every`` only the first match is emitted; with ``every`` a new
  match attempt starts at every event and all concurrent partials complete;
- quantified elements are greedy; a partial advances past an element once an
  event cannot extend it but can start the next element;
- trailing optional/absence elements complete at the first event past them
  (or at end-of-data, which batch mode treats as stream close);
- ``within t`` requires last.ts - first.ts <= t.
"""

from __future__ import annotations

import itertools
import logging
import operator
from dataclasses import dataclass

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..errors import SiddhiPlannerException, UnsupportedFeatureException
from ..schema import sql_ident
from ..siddhiql import ast as A

_log = logging.getLogger(__name__)

TS_COL = "__ts"
STREAM_COL = "__stream"
PK_COL = "__pk"

_BIN = {
    "==": operator.eq, "!=": operator.ne, "<": operator.lt, "<=": operator.le,
    ">": operator.gt, ">=": operator.ge, "+": operator.add, "-": operator.sub,
    "*": operator.mul, "/": operator.truediv, "%": operator.mod,
}


def _vec(e: A.Expr, cols):
    """Vectorized filter evaluation (no per-row Python) over ``cols``, a
    mapping from column name to numpy array. Nulls read as SQL filters
    read them: a comparison with a null operand is False,
    ``and``/``or``/``not`` take a null as False, and ``x % 0`` is null."""
    if isinstance(e, A.Literal):
        return e.value
    if isinstance(e, A.Ref):
        if e.stream is not None or e.index is not None:
            raise SiddhiPlannerException(
                f"pattern element filters use bare attributes, got {e.stream}.{e.name}"
            )
        if e.name not in cols:
            raise SiddhiPlannerException(f"unknown attribute '{e.name}' in pattern filter")
        return cols[e.name]
    if isinstance(e, A.Binary):
        l, r = _vec(e.left, cols), _vec(e.right, cols)
        if e.op == "and":
            return _truth(l) & _truth(r)
        if e.op == "or":
            return _truth(l) | _truth(r)
        if e.op in ("==", "!=", "<", "<=", ">", ">="):
            return _compare(_BIN[e.op], l, r)
        if e.op == "%" and np.any(np.equal(r, 0)):
            # x % 0 reads null as in pandas and SQL (numpy's integer mod gives 0)
            zero = np.equal(r, 0)
            return np.where(zero, np.nan, l % np.where(zero, 1, r))
        return _BIN[e.op](l, r)
    if isinstance(e, A.Unary):
        v = _vec(e.expr, cols)
        return np.logical_not(_truth(v)) if e.op == "not" else -v
    if isinstance(e, A.IsNull):
        isna = pd.isna(_vec(e.expr, cols))
        return np.logical_not(isna) if e.negated else isna
    raise UnsupportedFeatureException(
        f"expression {type(e).__name__} not supported in pattern filters"
    )


def _truth(v):
    """A filter value as booleans, a null reading False (a scalar stays a
    scalar and broadcasts)."""
    if not isinstance(v, np.ndarray):
        return not pd.isna(v) and bool(v)
    return v if v.dtype == bool else np.where(pd.isna(v), False, v).astype(bool)


def _compare(op, l, r):
    """``l op r`` for a comparison ``op``, False where an operand is null
    (None, NaN or NaT), as in SQL. numpy already reads a NaN or NaT operand
    as False under every comparison but ``!=``, and a None as False under
    ``==`` with a scalar, so only the other cases build a null mask: ``!=``,
    None under an ordering (numpy raises) and None == None."""
    if l is None or r is None:
        return False
    if op is operator.ne:
        kinds = "fOMm"
    elif op is operator.eq and not (
        isinstance(l, np.ndarray) and isinstance(r, np.ndarray)
    ):
        kinds = ""
    else:
        kinds = "O"
    nullable = [
        v for v in (l, r)
        if isinstance(v, np.ndarray) and v.dtype.kind in kinds
    ]
    null = (
        np.logical_or.reduce([pd.isna(v) for v in nullable])
        if nullable else None
    )
    if null is None or not null.any():
        return op(l, r)
    keep = ~null
    out = np.zeros(len(keep), dtype=bool)
    out[keep] = op(*(v[keep] if isinstance(v, np.ndarray) else v for v in (l, r)))
    return out


class LazyColumns(dict):
    """Column name -> numpy array over ``names``, each made by ``decode``
    on its first lookup, so a filter pays only for the columns it reads."""

    def __init__(self, names, decode):
        super().__init__()
        self.names, self.decode = names, decode

    def __contains__(self, name):
        return name in self.names

    def __missing__(self, name):
        arr = self[name] = self.decode(name)
        return arr


def element_masks(elems, cols, n: int, start_idx: int = 0, tags=None) -> list:
    """Each flat element's boolean mask over the ``n`` rows of ``cols``,
    for batch and streaming alike. With ``tags`` (stream -> tag) an element
    also tests its stream's tag in ``cols[STREAM_COL]``. ``start_idx``
    leading False values pad each mask: a resumed region's old prefix is
    only reached through saved captures."""
    base = np.ones(n, dtype=bool)
    pad = np.zeros(start_idx, dtype=bool) if start_idx else None
    masks = []
    for e in elems:
        m = base if tags is None else cols[STREAM_COL] == tags[e.stream]
        if e.filter is not None:
            m = m & _truth(_vec(e.filter, cols))
        masks.append(m if pad is None else np.concatenate([pad, m]))
    return masks


@dataclass
class _Step:
    """Normalized pattern step: one element, or an and/or group of elements.

    ``flat``: indices into the flat element list (masks/captures are flat)."""

    op: str  # 'single' | 'and' | 'or'
    flat: list[int]
    elem: A.PatternElem  # representative (the single elem, or group's first)
    elems: list[A.PatternElem] = None  # type: ignore[assignment]


def normalize_steps(steps: list) -> tuple[list[_Step], list[A.PatternElem]]:
    """Flatten PatternElem|PatternGroup steps; returns (steps, flat elems)."""
    out: list[_Step] = []
    flat: list[A.PatternElem] = []
    for s in steps:
        if isinstance(s, A.PatternGroup):
            idxs = []
            for e in s.elems:
                if e.negated or e.is_collection or e.min_count != 1:
                    raise SiddhiPlannerException(
                        "and/or pattern groups take plain (unquantified) elements"
                    )
                idxs.append(len(flat))
                flat.append(e)
            out.append(_Step(s.op, idxs, s.elems[0], list(s.elems)))
        else:
            out.append(_Step("single", [len(flat)], s, [s]))
            flat.append(s)
    return out, flat


@dataclass
class _Partial:
    pos: int
    captured: list[list[int]]  # per FLAT elem: row indices
    first_ts: int | None = None
    last_ts: int | None = None  # ts of the last captured row (arms 'not X for t')
    neg_deadline: int | None = None


def _step_satisfied(p: _Partial, st: _Step) -> bool:
    if st.op == "single":
        return len(p.captured[st.flat[0]]) >= st.elem.min_count
    if st.op == "and":
        return all(len(p.captured[f]) >= 1 for f in st.flat)
    return any(len(p.captured[f]) >= 1 for f in st.flat)  # or


def _step_optional(st: _Step) -> bool:
    return st.op == "single" and not st.elem.negated and st.elem.min_count == 0


def _partial_to_dict(p: _Partial) -> dict:
    return {
        "pos": p.pos, "captured": [list(c) for c in p.captured],
        "first_ts": p.first_ts, "last_ts": p.last_ts,
        "neg_deadline": p.neg_deadline,
    }


def _partial_from_dict(d: dict) -> _Partial:
    return _Partial(
        d["pos"], [list(c) for c in d["captured"]],
        first_ts=d["first_ts"], last_ts=d["last_ts"],
        neg_deadline=d["neg_deadline"],
    )


def _run_nfa(
    rows: pd.DataFrame,
    masks: list,
    raw_steps: list,
    strict_after: list[bool],
    every: bool,
    within_ms: int | None,
    at_close: bool = True,
    every_at: int | None = None,
    start_idx: int = 0,
    init: dict | None = None,
    return_state: bool = False,
    ts_vals=None,
):
    """Run the NFA over one partition; returns captured row-index lists
    (one list per FLAT element per match).

    ``every_at``: Siddhi's mid-pattern 'every' (suffix restart). When a
    partial completes the step before ``every_at`` it converts to a SPAWNER:
    a frozen prefix that, at every subsequent event, emits a clone attempting
    the suffix — so every qualifying suffix occurrence yields a match (the
    spawner itself never advances). Clones that fail to consume their first
    event are dropped (the spawner re-arms next event), keeping live state
    bounded by suffix length, not stream length.

    Streaming continuation (round 7): ``start_idx``/``init``/``return_state``
    let a micro-batch caller resume from serialized partials and scan ONLY
    the newly-arrived suffix of the (sorted) buffer — O(new) per batch
    instead of O(buffer) — and get the final NFA state back. ``init`` is the
    dict a previous ``return_state=True`` call produced (captured indices
    are positions in the same sorted buffer, shifted by the caller on
    eviction). With ``return_state`` the return value is ``(matches,
    state_dict)``."""
    steps, flat = normalize_steps(raw_steps)
    n_steps = len(steps)
    n_flat = len(flat)
    if ts_vals is None:
        ts_vals = rows[TS_COL].to_numpy()
    matches: list[list[list[int]]] = []
    if init is not None:
        partials = [_partial_from_dict(d) for d in init["partials"]]
        spawners = [_partial_from_dict(d) for d in init["spawners"]]
        started = init["started"]
        done = init["done"]
    else:
        partials = []
        spawners = []
        started = False
        done = False
    multi = every or every_at is not None

    def emit(p: _Partial):
        matches.append([list(c) for c in p.captured])

    def last_step_done_now(p: _Partial) -> bool:
        st = steps[p.pos]
        if p.pos != n_steps - 1 or st.elem.negated:
            return False
        if st.op == "single":
            return (not st.elem.is_collection) and _step_satisfied(p, st)
        return _step_satisfied(p, st)

    n_rows = len(ts_vals)
    for i in range(start_idx, n_rows):
        if done:
            break
        ts = int(ts_vals[i])
        survivors: list[_Partial] = []
        emitted_now = False
        attempt_pool = list(partials)
        clone_ids: set[int] = set()
        if spawners:
            live = []
            for s in spawners:
                if within_ms is not None and ts - s.first_ts > within_ms:
                    continue  # spawner's match window closed
                live.append(s)
                c = _Partial(
                    s.pos, [list(x) for x in s.captured],
                    first_ts=s.first_ts, last_ts=s.last_ts,
                )
                clone_ids.add(id(c))
                attempt_pool.append(c)
            spawners = live
        if every or not started:
            attempt_pool.append(_Partial(0, [[] for _ in range(n_flat)]))
        for p in attempt_pool:
            is_fresh = p.first_ts is None or id(p) in clone_ids
            beyond = (
                within_ms is not None
                and p.first_ts is not None
                and ts - p.first_ts > within_ms
            )
            if beyond and _needs_capture(p, steps):
                continue  # evict: a required capture can't fit the window
            res = _step(
                p, i, ts, steps, masks, strict_after, no_capture=beyond
            )
            if res == "consumed":
                if p.first_ts is None:
                    p.first_ts = ts
                    started = True
                p.last_ts = ts
                if last_step_done_now(p):
                    if within_ms is None or ts - p.first_ts <= within_ms:
                        emit(p)
                        emitted_now = True
                        if not multi:
                            done = True
                        continue
                if (
                    every_at is not None
                    and p.pos == every_at - 1
                    and _step_satisfied(p, steps[every_at - 1])
                ):
                    # prefix complete: freeze it; clones take the suffix from
                    # the NEXT event on (the completing event is prefix-only)
                    p.pos = every_at
                    spawners.append(p)
                    continue
                survivors.append(p)
            elif res == "completed":
                if within_ms is None or (p.first_ts is not None):
                    emit(p)
                    emitted_now = True
                    if not multi:
                        done = True
            elif res == "kept":
                if not is_fresh:
                    survivors.append(p)
            # 'died' -> dropped
        partials = survivors
        if emitted_now and not multi:
            done = True
    # end of data: stream close confirms absence / completes trailing optionals.
    # Streaming callers pass at_close=False — a micro-batch boundary is NOT a
    # stream close, so trailing absence/optionals must wait for a later event.
    if not done and at_close:
        for p in partials:
            if p.first_ts is not None and _can_close(p, steps):
                emit(p)
                if not multi:
                    break
    if return_state:
        return matches, {
            "partials": [_partial_to_dict(p) for p in partials],
            "spawners": [_partial_to_dict(s) for s in spawners],
            "started": started,
            "done": done,
        }
    return matches


def _plain(e) -> bool:
    return not e.negated and e.min_count == 1 and e.max_count == 1


def kernel_shape(elems, every: bool, every_at, strict_after) -> str | None:
    """Classify a pattern of k >= 2 single elements into the numpy kernel
    that runs it:

    - ``'chain'``: ``every e1=A1 (->|,) ... (->|,) ek=Ak [within t]``, all
      elements plain, any mix of relaxed and strict connectors
      (:func:`run_kernel_chain`);
    - ``'plain_chain'``: the same without ``every`` — the arm-once,
      first-attempt contract of PARITY.md (:func:`run_kernel_chain_nonevery`);
    - ``'chain_absence'``: ``every e1=A1 -> ... -> not Ak for t [within w]``
      (:func:`run_kernel_chain_absence`);
    - ``'chain_quant'``: a relaxed ``every`` chain ending in a plain element
      whose other non-plain elements are ``<n:m>`` with n >= 1, no two
      adjacent (:func:`run_kernel_chain_quants`; adjacent quants would race
      each other's extension, a case the boundary logic does not model).

    or ``None`` when the pattern needs the general per-row NFA: and/or
    groups, mid-pattern ``every``, trailing quantifiers or optionals, bare
    ``not X``, and strict absence or quantified chains."""
    if every_at is not None or len(elems) < 2:
        return None
    if not all(isinstance(e, A.PatternElem) for e in elems):
        return None
    head, last = elems[:-1], elems[-1]
    if all(_plain(e) for e in elems):
        return "chain" if every else "plain_chain"
    if not every or any(strict_after):
        return None
    if all(_plain(e) for e in head):
        if last.negated and last.for_ms is not None and not last.is_collection:
            return "chain_absence"
        return None
    nonplain = [i for i, e in enumerate(head) if not _plain(e)]
    if (
        _plain(last)
        and all(not head[i].negated and head[i].min_count >= 1 for i in nonplain)
        and all(b - a >= 2 for a, b in zip(nonplain, nonplain[1:]))
    ):
        return "chain_quant"
    return None


# Below this many row·partial units (rows scanned × (1 + live partials +
# fresh arms)) the row loop beats the quant kernel's fixed numpy cost of
# about 100-130 µs per call (measured crossover).
QUANT_KERNEL_MIN_WORK = 128


def pattern_engine(shape: str | None, at_close: bool) -> str:
    """Name of the engine :func:`run_shape` runs ``shape`` on: the kernel
    shape, or ``'nfa'`` for the general row loop. The absence kernel never
    confirms at the end of the data, which batch semantics treat as stream
    close (``at_close``), so batch absence chains keep the row loop."""
    if shape is None or (shape == "chain_absence" and at_close):
        return "nfa"
    return shape


def run_shape(
    shape: str | None,
    ts_vals,
    masks: list,
    steps: list,
    strict_after: list[bool],
    every: bool,
    every_at: int | None,
    within_ms: int | None,
    start_idx: int = 0,
    init: dict | None = None,
    at_close: bool = True,
):
    """Match one key's ts-sorted rows from ``start_idx`` on, resuming from
    ``init``; returns ``(matches, state)`` in ``_run_nfa``'s formats.

    ``shape`` is :func:`kernel_shape` of ``steps`` (``None`` for the row
    loop). Every kernel's matches and serialized state equal ``_run_nfa``'s
    (pinned by tests/test_kernel2_unit.py), so the engine may change from
    one micro-batch to the next: small quant visits run the row loop."""
    engine = pattern_engine(shape, at_close)
    if engine == "chain_quant":
        n_pend = len(init["partials"]) if init else 0
        n_arms = int(np.count_nonzero(masks[0][start_idx:]))
        work = (len(ts_vals) - start_idx) * (1 + n_pend + n_arms)
        if work < QUANT_KERNEL_MIN_WORK:
            engine = "nfa"
    if engine == "chain":
        return run_kernel_chain(
            ts_vals, masks, strict_after, start_idx, init, within_ms
        )
    if engine == "plain_chain":
        return run_kernel_chain_nonevery(
            ts_vals, masks, strict_after, start_idx, init, within_ms
        )
    if engine == "chain_absence":
        return run_kernel_chain_absence(
            ts_vals, masks, start_idx, init, within_ms, steps[-1].for_ms
        )
    if engine == "chain_quant":
        quants = [
            (i, e.min_count, e.max_count)
            for i, e in enumerate(steps) if not _plain(e)
        ]
        return run_kernel_chain_quants(
            ts_vals, masks, quants, start_idx, init, within_ms
        )
    return _run_nfa(
        None, masks, steps, strict_after, every, within_ms,
        at_close=at_close, every_at=every_at, start_idx=start_idx,
        init=init, return_state=True, ts_vals=ts_vals,
    )


def _fill_stage(cap, s, mask, start_idx, ts_vals, first_ts, within_ms):
    """Capture relaxed stage ``s`` for every partial holding stage s-1 but
    not s: the FIRST row matching ``mask`` after its stage s-1 capture,
    among new rows only (a resumed partial saw no match in the
    already-scanned prefix). A candidate beyond the within window stays
    -1: the row loop evicts the partial at that row, and the kernels'
    survivor rule agrees (ts[-1] >= ts[cand] > first_ts + t)."""
    new_s = np.flatnonzero(mask[start_idx:]) + start_idx
    if not len(new_s):
        return
    prev = cap[s - 1]
    si = np.searchsorted(new_s, prev, side="right")
    has = (cap[s] < 0) & (prev >= 0) & (si < len(new_s))
    cand = new_s[np.minimum(si, len(new_s) - 1)]
    if within_ms is not None:
        has &= (ts_vals[cand] - first_ts) <= within_ms
    cap[s] = np.where(has, cand, cap[s])


def run_kernel_chain(
    ts_vals,
    masks: list,
    strict_after: list[bool],
    start_idx: int,
    init: dict | None,
    within_ms: int | None,
):
    """Vectorized NFA for ``every e1=A1 (->|,) ... (->|,) ek=Ak
    [within t]``, any k >= 2 plain elements. Exact ``_run_nfa`` semantics:

    - each A1-row arms a partial; stage by stage it captures the FIRST
      later row matching the next element (relaxed ``->``), or exactly the
      row right after the previous capture (strict ``,``): if that row has
      not arrived yet the partial waits, if it has and does not match the
      partial is dead. The final stage's row emits;
    - ``within t``: the general NFA evicts a partial at the first row
      (of any kind) beyond ``first_ts + t`` while a capture remains, so
      ANY stage capture beyond the window means no match EVER — the
      buffer is ts-sorted, so the gate is one comparison per candidate
      and the survivor rule is ``ts[-1] - a_ts <= t``;
    - pending state: a partial with j stages captured serializes at
      ``pos`` j-1 (the row loop's lazy advance — a freshly-armed partial
      sits at pos 0), byte-equal to ``_run_nfa`` and resumable by either
      engine across micro-batches (pinned by tests/test_kernel2_unit.py).

    One ``searchsorted`` per relaxed stage and one gather per strict
    stage, vectorized across every live partial still needing that
    stage."""
    k = len(masks)
    n = len(ts_vals)
    if init is not None:
        pend = init["partials"]
        pend_ats = [int(p["first_ts"]) for p in pend]
        pend_caps = [
            [int(c[0]) if c else -1 for c in p["captured"]] for p in pend
        ]
        started = bool(init["started"])
    else:
        pend_ats, pend_caps, started = [], [], False
    new_a = np.flatnonzero(masks[0][start_idx:]) + start_idx
    n_pend = len(pend_caps)
    n_a = n_pend + len(new_a)
    if not n_a:
        return [], {
            "partials": [], "spawners": [],
            "started": started, "done": False,
        }
    a_ts = np.concatenate(
        [np.asarray(pend_ats, dtype=np.int64), ts_vals[new_a]]
    )
    # cap[s][i] = buffer position captured for stage s by partial i
    cap = np.full((k, n_a), -1, dtype=np.int64)
    if n_pend:
        cap[:, :n_pend] = np.asarray(pend_caps, dtype=np.int64).T
    cap[0, n_pend:] = new_a
    dead = np.zeros(n_a, dtype=bool)
    for s in range(1, k):
        if not strict_after[s - 1]:
            _fill_stage(cap, s, masks[s], start_idx, ts_vals, a_ts, within_ms)
            continue
        # strict: the row right after the stage s-1 capture decides (a
        # surviving strict partial's last capture is the buffer tail, so
        # that row is always a new one)
        prev = cap[s - 1]
        need = (cap[s] < 0) & (prev >= 0)
        arrived = prev + 1 < n
        cand = np.minimum(prev + 1, n - 1)
        has = need & arrived & np.asarray(masks[s])[cand]
        if within_ms is not None:
            has &= (ts_vals[cand] - a_ts) <= within_ms
        dead |= need & arrived & ~has
        cap[s] = np.where(has, cand, cap[s])
    ok = cap[k - 1] >= 0
    matches: list = []
    oi = np.flatnonzero(ok)
    if len(oi):
        # emission order mirrors the row loop: by completing row, then
        # by partial age (the partials list stays in arming order); one
        # tolist per stage, not one int() per cell
        sel = oi[np.lexsort((oi, cap[k - 1][oi]))]
        cols = [[[x] for x in col] for col in cap[:, sel].tolist()]
        matches = [list(t) for t in zip(*cols)]
    keep = ~ok & ~dead
    if within_ms is not None and n:
        # the general NFA drops a partial at the first row beyond its
        # window, whatever that row's type
        keep &= (int(ts_vals[-1]) - a_ts) <= within_ms
    ki = np.flatnonzero(keep)
    partials = []
    for caps, fts in zip(cap[:, ki].T.tolist(), a_ts[ki].tolist()):
        filled = sum(c >= 0 for c in caps)
        partials.append({
            # pos advances lazily in the row loop: j captures -> pos j-1
            "pos": filled - 1,
            "captured": [[c] if c >= 0 else [] for c in caps],
            "first_ts": fts,
            "last_ts": int(ts_vals[caps[filled - 1]]),
            "neg_deadline": None,
        })
    return matches, {
        "partials": partials,
        "spawners": [],
        "started": started or bool(n_a),
        "done": False,
    }


def run_kernel_chain_nonevery(
    ts_vals,
    masks: list,
    strict_after: list[bool],
    start_idx: int,
    init: dict | None,
    within_ms: int | None,
):
    """Vectorized NFA for ``e1=A1 (->|,) ... (->|,) ek=Ak [within t]``
    WITHOUT ``every``, any k >= 2 — the arm-once first-attempt contract
    (PARITY.md): the single partial arms at the FIRST A1-match ever and
    captures the first eligible row per relaxed stage, or exactly the row
    right after the previous capture per strict stage; if that strict row
    does not match, or the within-window closes before the chain
    completes, there is NO match ever (dead: empty partials, ``started``
    stays True so nothing re-arms). At most one match per key, then
    ``done``.

    Scalar logic (one partial): each relaxed stage scans only up to its
    first match (a short-circuiting ``argmax``); state byte-equal to
    ``_run_nfa`` (tests/test_kernel2_unit.py)."""
    k = len(masks)
    n = len(ts_vals)

    def _first(mask, lo):
        """First position >= lo where ``mask`` holds, or -1."""
        if lo >= n:
            return -1
        j = lo + int(mask[lo:].argmax())
        return j if mask[j] else -1

    if init is not None:
        started = bool(init["started"])
        done = bool(init["done"])
        parts = init["partials"]
    else:
        started, done, parts = False, False, []

    def _state(partials, started, done):
        return {
            "partials": partials, "spawners": [],
            "started": started, "done": done,
        }

    if done:
        return [], _state([dict(p) for p in parts], started, True)
    if parts:
        caps = [int(c[0]) if c else -1 for c in parts[0]["captured"]]
        fa = int(parts[0]["first_ts"])
    elif started:
        # dead: the first attempt already failed — no match ever
        return [], _state([], True, False)
    else:
        ia = _first(masks[0], start_idx)
        if ia < 0:
            return [], _state([], False, False)
        caps = [-1] * k
        caps[0] = ia
        fa = int(ts_vals[ia])
    filled = sum(1 for c in caps if c >= 0)
    prev = caps[filled - 1]
    complete = True
    for s in range(filled, k):
        if strict_after[s - 1]:
            # the immediately-next buffer row decides (a surviving partial
            # always ends at the buffer tail, so it is a new row on resume)
            cand = prev + 1
            if cand >= n:
                complete = False
                break
            if not masks[s][cand]:
                return [], _state([], True, False)  # strict breaker: dead
        else:
            cand = _first(masks[s], max(prev + 1, start_idx))
            if cand < 0:
                complete = False
                break
        if within_ms is not None and int(ts_vals[cand]) - fa > within_ms:
            # the candidate row itself sits beyond the window — the row
            # loop evicts the partial there: dead, no match ever
            return [], _state([], True, False)
        caps[s] = cand
        prev = cand
    if complete:
        return [[[c] for c in caps]], _state([], True, True)
    # incomplete: the window closing on the buffer tail kills the attempt
    if within_ms is not None and n and int(ts_vals[-1]) - fa > within_ms:
        return [], _state([], True, False)
    filled = sum(1 for c in caps if c >= 0)
    pend = [{
        "pos": filled - 1,  # the row loop's lazy advance
        "captured": [[c] if c >= 0 else [] for c in caps],
        "first_ts": fa,
        "last_ts": int(ts_vals[caps[filled - 1]]),
        "neg_deadline": None,
    }]
    return [], _state(pend, True, False)


def run_kernel_chain_absence(
    ts_vals,
    masks: list,
    start_idx: int,
    init: dict | None,
    within_ms: int | None,
    for_ms: int,
):
    """Vectorized NFA for ``every e1=A1 -> ... -> e(k-1)=A(k-1) ->
    not Ak for t [within w]``, any k >= 2 — the funnel-ABANDONMENT shape
    (started the chain, then the final event did NOT happen within ``t``).
    Composes the chain fill with the absence resolution, exact
    ``_run_nfa`` (``at_close=False``) semantics:

    - positive stages capture exactly like :func:`run_kernel_chain`
      (``within`` gates every capture; an armed-absence partial is never
      window-evicted — its captured span is already frozen, the round-8
      `_needs_capture` contract);
    - ``within w`` never evicts an armed partial, so at k=2 (only the
      a-row is captured) it is inert;
    - once the last positive stage captures at row b (ts_b), the absence
      arms with deadline ``ts_b + for_ms``: an Ak-row at ``ts <=
      deadline`` kills the partial; the first row (of ANY kind) with
      ``ts > deadline`` confirms and emits — streaming never emits at a
      micro-batch boundary, so confirmation always needs a later event;
    - pending state: chain-stage partials at ``pos`` j-1, armed-absence
      partials at ``pos`` k-1 with ``neg_deadline`` set once any row
      after the arming capture was processed (the row loop's lazy
      advance), byte-equal to ``_run_nfa``.

    Streaming-only: batch absence semantics additionally confirm at
    stream close (``at_close=True``), so the batch path keeps the
    general NFA for this shape (:func:`pattern_engine`)."""
    k = len(masks)  # includes the negated final element
    kp = k - 1      # positive stages
    n = len(ts_vals)
    big = np.int64(n)
    if init is not None:
        pend = init["partials"]
        pend_ats = [int(p["first_ts"]) for p in pend]
        pend_caps = [
            [int(c[0]) if c else -1 for c in p["captured"][:kp]]
            for p in pend
        ]
        pend_armed = [int(p["pos"]) == kp for p in pend]
        started = bool(init["started"])
    else:
        pend_ats, pend_caps, pend_armed, started = [], [], [], False
    new_a = np.flatnonzero(masks[0][start_idx:]) + start_idx
    n_pend = len(pend_caps)
    n_a = n_pend + len(new_a)
    if not n_a:
        return [], {
            "partials": [], "spawners": [],
            "started": started, "done": False,
        }
    a_ts = np.concatenate(
        [np.asarray(pend_ats, dtype=np.int64), ts_vals[new_a]]
    )
    cap = np.full((kp, n_a), -1, dtype=np.int64)
    if n_pend:
        cap[:, :n_pend] = np.asarray(pend_caps, dtype=np.int64).T
    cap[0, n_pend:] = new_a
    # was the partial already at the armed-absence stage when resumed?
    was_armed = np.zeros(n_a, dtype=bool)
    was_armed[:n_pend] = np.asarray(pend_armed, dtype=bool)
    for s in range(1, kp):
        _fill_stage(cap, s, masks[s], start_idx, ts_vals, a_ts, within_ms)
    armed = cap[kp - 1] >= 0
    last_pos = cap[kp - 1]
    # absence resolution, from the arming row:
    # first row each armed partial gets to see — resumed armed partials
    # scan from start_idx, newly-armed from the row after their capture
    safe_last = np.where(armed, last_pos, 0)
    deadline = ts_vals[safe_last] + for_ms
    lo = np.where(
        was_armed, np.int64(start_idx),
        np.maximum(safe_last + 1, start_idx),
    )
    # jc: first row with ts > deadline (confirms the absence)
    jc = np.searchsorted(ts_vals, deadline, side="right")
    jc = np.maximum(jc, lo)
    jc = np.where(jc < n, jc, big)
    # jk: first Ak-row at position >= lo with ts <= deadline (kills)
    neg_pos = np.nonzero(masks[k - 1])[0].astype(np.int64)
    if len(neg_pos):
        bi = np.searchsorted(neg_pos, lo, side="left")
        has_b = bi < len(neg_pos)
        candk = neg_pos[np.minimum(bi, len(neg_pos) - 1)]
        kill_ok = has_b & (
            ts_vals[np.where(has_b, candk, 0)] <= deadline
        )
        jk = np.where(kill_ok, candk, big)
    else:
        jk = np.full(n_a, big)
    match_ok = armed & (jc < big) & (jk == big)
    waiting = armed & (jc == big) & (jk == big)
    matches: list = []
    oi = np.nonzero(match_ok)[0]
    if len(oi):
        # emission order mirrors the row loop: by confirming row, then
        # by partial age; one tolist per stage, not one int() per cell
        sel = oi[np.lexsort((oi, jc[oi]))]
        cols = [[[x] for x in col] for col in cap[:, sel].tolist()]
        cols.append([[] for _ in range(len(sel))])
        matches = [list(t) for t in zip(*cols)]
    # survivors: chain-stage partials still inside the window, plus
    # armed-absence partials with no kill/confirm yet (never
    # window-evicted — their captures are frozen)
    chain_keep = ~armed & (cap[0] >= 0)
    if within_ms is not None and n:
        chain_keep &= (int(ts_vals[-1]) - a_ts) <= within_ms
    partials = []
    ki = np.flatnonzero(chain_keep | waiting)
    for i, caps, fts in zip(
        ki.tolist(), cap[:, ki].T.tolist(), a_ts[ki].tolist()
    ):
        filled = sum(c >= 0 for c in caps)
        if waiting[i]:
            # armed: pos advances to the absence step (deadline set) as
            # soon as ANY row after the arming was processed — the row
            # loop's lazy advance
            seen_row = lo[i] < n or was_armed[i]
            pos = kp if seen_row else kp - 1
            nd = int(deadline[i]) if seen_row else None
        else:
            pos = filled - 1
            nd = None
        partials.append({
            "pos": pos,
            "captured": [[c] if c >= 0 else [] for c in caps] + [[]],
            "first_ts": fts,
            "last_ts": int(ts_vals[caps[filled - 1]]),
            "neg_deadline": nd,
        })
    return matches, {
        "partials": partials,
        "spawners": [],
        "started": started or bool(n_a),
        "done": False,
    }


def run_kernel_chain_quants(
    ts_vals,
    masks: list,
    quants: list,
    start_idx: int,
    init: dict | None,
    within_ms: int | None,
):
    """Vectorized NFA for a k-step relaxed ``every`` chain, any k >= 2, with
    one OR MORE quantified stages, none last and no two adjacent:
    ``every e1=A1 -> ... -> q=Q<n:m> -> ... -> ek=Ak [within t]``
    (``every a<1:3> -> b`` up to shapes like ``a<1:2> -> b -> c<1:2> -> d``
    — each quantified stage runs its own completion-boundary race against
    the plain stage that follows it).
    ``quants`` is ``[(qpos, min_count, max_count), ...]`` sorted by qpos,
    every qpos in [0, k-2], qpos+1 never quantified. Exact ``_run_nfa``
    semantics per stage:

    - each A1-row arms a partial (a quantified stage 0 counts the arm row
      as its first capture); plain stages whose predecessor is plain
      capture the FIRST later matching row (:func:`run_kernel_chain`'s
      fill);
    - at a quant stage the partial extends GREEDILY on each later Q-row
      while below ``m`` (non-contiguous), and extension beats advancing
      when one row matches both Q and the next stage; once ``>= n``
      Q-rows are held, the first next-stage-AND-NOT-Q row advances; after
      the ``m``-th, ANY next-stage row does;
    - ``within t`` evicts exactly as the row loop does (candidate beyond
      the window stays uncaptured; survivors need the window to reach
      past the newest row);
    - pending partials serialize with ``pos`` = the last stage holding a
      capture, byte-equal to ``_run_nfa`` and resumable by either engine
      across micro-batches (pinned by tests/test_kernel2_unit.py).

    One ``searchsorted`` per plain stage plus two per quant completion
    boundary, vectorized across every live partial."""
    k = len(masks)
    n_rows = len(ts_vals)
    BIG = np.int64(n_rows)
    qset = {q[0]: (q[1], q[2]) for q in quants}
    if init is not None:
        pend = init["partials"]
        started = bool(init["started"])
    else:
        pend, started = [], False
    n_pend = len(pend)
    new_arm = (np.nonzero(masks[0][start_idx:])[0] + start_idx).astype(np.int64)
    n_new = len(new_arm)
    n_all = n_pend + n_new
    if not n_all:
        return [], {
            "partials": [], "spawners": [],
            "started": started, "done": False,
        }
    first_ts = np.concatenate([
        np.asarray([int(p["first_ts"]) for p in pend], dtype=np.int64),
        ts_vals[new_arm] if n_new else np.empty(0, dtype=np.int64),
    ])
    # cap[s, i] = buffer position captured for PLAIN stage s by partial i
    # (-1 = not captured); each quant stage's captures live in its
    # ``prior`` lists (resumed runs) + a contiguous slice of its matching
    # rows (this batch's greedy extension), materialized lazily.
    cap = np.full((k, n_all), -1, dtype=np.int64)
    qst = {
        qpos: {"prior": [[] for _ in range(n_all)]}
        for qpos in qset
    }
    for i, p in enumerate(pend):
        for s, caps in enumerate(p["captured"]):
            if s in qset:
                qst[s]["prior"][i] = [int(x) for x in caps]
            elif caps:
                cap[s, i] = int(caps[0])
    if n_new:
        if 0 in qset:
            pr = qst[0]["prior"]
            for j in range(n_new):
                pr[n_pend + j] = [int(new_arm[j])]
        else:
            cap[0, n_pend:] = new_arm
    for qpos in qset:
        st = qst[qpos]
        st["c0"] = np.asarray(
            [len(c) for c in st["prior"]], dtype=np.int64
        )
        st["new"] = (
            np.nonzero(masks[qpos][start_idx:])[0] + start_idx
        ).astype(np.int64)
        st["last"] = np.asarray(
            [c[-1] if c else -1 for c in st["prior"]], dtype=np.int64
        )

    def _race(s, qpos):
        """Capture PLAIN stage s for partials at quant stage ``qpos`` =
        s-1: the quant completion-boundary race (extension beats
        advancing below m; >= n then first s-and-not-q row; past the m-th
        q-row any s-row)."""
        st = qst[qpos]
        min_count, max_count = qset[qpos]
        new_q, c0 = st["new"], st["c0"]
        if qpos > 0:
            base = np.where(c0 > 0, st["last"], cap[qpos - 1])
        else:
            base = st["last"]
        active = base >= 0  # reached the quant stage
        nxt = np.searchsorted(new_q, np.where(active, base, -1),
                              side="right")
        st["base"], st["active"], st["nxt"] = base, active, nxt

        def _boundary(target):
            need = target - c0
            if len(new_q):
                idx = nxt + need - 1
                hit = active & (need > 0) & (idx < len(new_q))
                pos = np.where(
                    hit, new_q[np.clip(idx, 0, len(new_q) - 1)], BIG
                )
            else:
                pos = np.full(n_all, BIG, dtype=np.int64)
            return np.where(active & (need <= 0), base, pos)

        rmin = _boundary(np.int64(min_count))
        if max_count is None:
            rmax = np.full(n_all, BIG, dtype=np.int64)
        else:
            rmax = _boundary(np.int64(max_count))
        race = active & (cap[s] < 0)  # resumed past s skip the race
        c_only = (
            np.nonzero(
                (np.asarray(masks[s]) & ~np.asarray(masks[qpos]))[start_idx:]
            )[0] + start_idx
        ).astype(np.int64)
        c_any = (
            np.nonzero(masks[s][start_idx:])[0] + start_idx
        ).astype(np.int64)
        if len(c_only):
            i1 = np.searchsorted(c_only, rmin, side="right")
            j1 = np.where(i1 < len(c_only),
                          c_only[np.minimum(i1, len(c_only) - 1)], BIG)
            j1 = np.where((rmin < BIG) & (j1 < rmax), j1, BIG)
        else:
            j1 = np.full(n_all, BIG, dtype=np.int64)
        if len(c_any):
            i2 = np.searchsorted(c_any, rmax, side="right")
            j2 = np.where((rmax < BIG) & (i2 < len(c_any)),
                          c_any[np.minimum(i2, len(c_any) - 1)], BIG)
        else:
            j2 = np.full(n_all, BIG, dtype=np.int64)
        jb = np.where(race, np.minimum(j1, j2), BIG)
        okc = jb < BIG
        if within_ms is not None:
            safe = np.where(okc, jb, 0)
            okc &= (ts_vals[safe] - first_ts) <= within_ms
        cap[s] = np.where(okc, jb, cap[s])

    for s in range(1, k):
        if s in qset:
            continue  # quant captures are implicit (prior + new_q slice)
        if (s - 1) in qset:
            _race(s, s - 1)
        else:
            _fill_stage(
                cap, s, masks[s], start_idx, ts_vals, first_ts, within_ms
            )

    # this batch's capture count per quant stage and partial: the
    # contiguous slice of Q-rows stops at the following stage's capture
    # (race close) and at ``m`` total — one searchsorted per stage
    for qpos, st in qst.items():
        max_count = qset[qpos][1]
        upto = np.where(cap[qpos + 1] >= 0, cap[qpos + 1], BIG)
        cnt = np.searchsorted(st["new"], upto) - st["nxt"]
        if max_count is not None:
            cnt = np.minimum(cnt, max_count - st["c0"])
        st["cnt"] = np.where(st["active"], cnt, 0).tolist()
        st["nxt"] = st["nxt"].tolist()

    def _qcaps(i, qpos):
        """Quant-stage captures of partial i: prior runs + this batch's
        slice."""
        st = qst[qpos]
        caps = list(st["prior"][i])
        cnt = st["cnt"][i]
        if cnt > 0:
            lo = st["nxt"][i]
            caps += st["new"][lo:lo + cnt].tolist()
        return caps

    ok = cap[k - 1] >= 0
    matches: list = []
    oi = np.nonzero(ok)[0]
    if len(oi):
        # emission order mirrors the row loop: by completing row, then by
        # pool (arming) order — resumed partials first, then fresh arms
        order = np.lexsort((oi, cap[k - 1][oi]))
        for i in oi[order]:
            matches.append([
                _qcaps(int(i), s) if s in qset else [int(cap[s, i])]
                for s in range(k)
            ])
    keep = ~ok
    if within_ms is not None and n_rows:
        # the row loop drops a partial at the first row beyond its window,
        # whatever that row's type
        keep &= (int(ts_vals[-1]) - first_ts) <= within_ms
    partials = []
    for i in np.nonzero(keep)[0]:
        caps_full = [
            _qcaps(int(i), s) if s in qset
            else ([int(cap[s, i])] if cap[s, i] >= 0 else [])
            for s in range(k)
        ]
        filled = max(s for s in range(k) if caps_full[s])
        last_pos = caps_full[filled][-1]
        partials.append({
            "pos": filled,  # the row loop's lazy advance
            "captured": caps_full,
            "first_ts": int(first_ts[i]),
            "last_ts": (
                int(ts_vals[last_pos]) if last_pos >= start_idx
                else pend[i]["last_ts"]  # no new capture: keep stored ts
            ),
            "neg_deadline": None,
        })
    return matches, {
        "partials": partials,
        "spawners": [],
        "started": started or bool(n_all),
        "done": False,
    }


def validate_every_at(p: "A.PatternInput") -> None:
    """Mid-pattern 'every' prefix restrictions: every step before the mark
    must complete at a single well-defined event (plain single elements or
    and/or groups — no optionals, collections, or negations), so "prefix
    complete" is unambiguous and the spawner freeze point is exact."""
    if p.every_at is None:
        return
    if not (0 < p.every_at < len(p.elems)):
        raise SiddhiPlannerException("mid-pattern 'every' position out of range")
    for st in p.elems[: p.every_at]:
        es = st.elems if isinstance(st, A.PatternGroup) else [st]
        for e in es:
            if e.negated or e.is_collection or e.min_count != 1:
                raise UnsupportedFeatureException(
                    "steps before a mid-pattern 'every' must be plain single "
                    "elements (no quantifiers, optionals, or 'not')"
                )


def quiescent_deadline(d: dict, steps: list[_Step]) -> int | None:
    """Event-time ms past which this serialized partial's TRAILING ABSENCE
    confirms with no further events, or ``None`` when confirmation still
    needs a data event.

    Siddhi fires ``A -> not B for t`` from its scheduler when the key's
    stream goes quiescent; in this engine the streaming operator arms an
    event-time timer at this deadline and the WATERMARK is the clock
    (round 10, VERDICT r9 ask #1). A deadline exists when every remaining
    step is a timed absence (``not X for t``) or an optional (which closes
    empty, as batch ``at_close`` does), with at least one absence; the
    deadline chains the remaining ``for_ms`` spans exactly as ``_step``
    arms them (base = last captured row's ts). Confirmation at watermark
    ``wm > deadline`` is sound: late rows at or below the watermark are
    dropped upstream, so no future event can kill the guard."""
    p = _partial_from_dict(d)
    if p.first_ts is None or not any(p.captured):
        return None
    st = steps[p.pos]
    saw_neg = False
    if st.elem.negated:
        if st.elem.for_ms is None:
            return None  # bare 'not X': only a next-step event resolves it
        if p.neg_deadline is not None:
            cur = p.neg_deadline
        else:
            base = p.last_ts if p.last_ts is not None else p.first_ts
            cur = base + st.elem.for_ms
        saw_neg = True
    else:
        if not _step_satisfied(p, st):
            return None
        cur = p.last_ts if p.last_ts is not None else p.first_ts
    for j in range(p.pos + 1, len(steps)):
        sj = steps[j]
        if sj.elem.negated:
            if sj.elem.for_ms is None:
                return None
            cur += sj.elem.for_ms
            saw_neg = True
        elif _step_optional(sj):
            continue  # closes empty at confirmation, as at_close does
        else:
            return None  # a required capture remains: needs a data event
    return cur if saw_neg else None


def quiescent_confirm(nfa_st: dict, steps: list[_Step], wm: int, multi: bool):
    """Confirm every serialized partial whose quiescent deadline the
    watermark has passed (timer-fired absence, round 10 — Siddhi scheduler
    parity; the reference's engine schedules these in
    ``io.siddhi`` AbsentLogicalPreStateProcessor, outside the thin shim at
    /root/reference/core/src/main/java/.../AbstractSiddhiOperator.java).

    Returns ``(matches, new_st, pending)``: ``matches`` in deadline order
    (then arming order) in the engines' capture format; ``new_st`` with the
    confirmed partials removed (arm-once patterns seal at the first
    confirmation, matching the engines' ``done`` contract); ``pending`` the
    earliest still-unpassed deadline to re-arm the timer at, or None."""
    done = nfa_st["done"]
    parts = nfa_st["partials"]
    if done and not multi:
        return [], nfa_st, None
    dls = [quiescent_deadline(d, steps) for d in parts]
    due = sorted(
        (dl, i) for i, dl in enumerate(dls) if dl is not None and wm > dl
    )
    if not due:
        pend = min((dl for dl in dls if dl is not None), default=None)
        return [], nfa_st, pend
    matches, dropped = [], set()
    for dl, i in due:
        matches.append([list(c) for c in parts[i]["captured"]])
        dropped.add(i)
        if not multi:
            done = True
            break
    kept = [d for i, d in enumerate(parts) if i not in dropped]
    pend = None
    if not (done and not multi):
        pend = min(
            (dl for i, dl in enumerate(dls)
             if dl is not None and i not in dropped),
            default=None,
        )
    new_st = {
        "partials": kept,
        "spawners": nfa_st["spawners"],
        "started": nfa_st["started"],
        "done": done,
    }
    return matches, new_st, pend


def _can_close(p: _Partial, steps: list[_Step]) -> bool:
    st = steps[p.pos]
    if not st.elem.negated and not _step_satisfied(p, st):
        return False
    for j in range(p.pos + 1, len(steps)):
        sj = steps[j]
        if not sj.elem.negated and not (_step_optional(sj)):
            return False
    return any(p.captured)


def _needs_capture(p: _Partial, steps: list[_Step]) -> bool:
    """True if completing this partial still requires CAPTURING at least one
    more (non-negated) event. Siddhi's ``within`` constrains the span of the
    MATCHED events, not the event that merely confirms a trailing absence —
    so the window can only evict a partial while a required capture remains
    (a pure absence-confirmation wait has its captured span already frozen
    inside the window; the batch fast path encodes the same contract)."""
    st = steps[p.pos]
    if not st.elem.negated and not _step_satisfied(p, st):
        return True
    for j in range(p.pos + 1, len(steps)):
        sj = steps[j]
        if not sj.elem.negated and not _step_optional(sj):
            return True
    return False


def _step(p: _Partial, i: int, ts: int, steps: list[_Step], masks, strict_after,
          no_capture: bool = False) -> str:
    """Try to consume row i with partial p. Returns consumed|completed|kept|died.

    ``no_capture``: the row sits beyond the partial's within-window — it may
    still kill a guarded absence, pass a deadline, or complete the pattern,
    but it must not be CAPTURED (``within`` bounds matched events only)."""
    n = len(steps)
    pos = p.pos
    st = steps[pos]
    e = st.elem
    # negated guard element at current position
    if e.negated:
        deadline = p.neg_deadline
        if bool(masks[st.flat[0]][i]) and (deadline is None or ts <= deadline):
            return "died"
        if deadline is not None and ts > deadline:
            p.pos += 1
            p.neg_deadline = None
            if p.pos >= n:
                return "completed"
            return _step(p, i, ts, steps, masks, strict_after, no_capture)
        if deadline is None:
            # 'not A -> B': guard holds while waiting; try next step
            j = pos + 1
            if j < n and not steps[j].elem.negated and not no_capture:
                nf = _group_match(p, steps[j], masks, i)
                if nf is not None:
                    p.pos = j
                    p.captured[nf].append(i)
                    return "consumed"
            return "kept"
        return "kept"
    # (a) extend/fill the current step
    f = None if no_capture else _extend_match(p, st, masks, i)
    if f is not None:
        p.captured[f].append(i)
        return "consumed"
    # (b) advance if the current step is satisfied
    if _step_satisfied(p, st):
        j = pos + 1
        while j < n:
            sj = steps[j]
            if sj.elem.negated:
                if bool(masks[sj.flat[0]][i]) and sj.elem.for_ms is None:
                    return "died"
                if sj.elem.for_ms is not None:
                    # deadline arms from the last captured event's ts (the
                    # event that completed the preceding step); a partial that
                    # captured nothing yet arms from the current event.
                    p.pos = j
                    base = p.last_ts if p.last_ts is not None else ts
                    p.neg_deadline = base + sj.elem.for_ms
                    return _step(p, i, ts, steps, masks, strict_after,
                                 no_capture)
                j += 1
                continue
            nf = None if no_capture else _group_match(p, sj, masks, i)
            if nf is not None:
                p.pos = j
                p.captured[nf].append(i)
                return "consumed"
            if _step_optional(sj):
                j += 1
                continue
            break
        if j >= n:
            return "completed"
    # (c) not consumed: strictness decides survival
    any_cap = any(p.captured[k] for k in st.flat)
    if not any_cap and pos > 0:
        strict = strict_after[pos - 1]
    elif any_cap and pos < n - 1:
        strict = strict_after[pos]
    else:
        strict = False  # trailing collection / first step
    if strict:
        return "died"
    return "kept"


def _extend_match(p: _Partial, st: _Step, masks, i: int):
    """Flat index this event can capture into within the current step, or None."""
    if st.op == "single":
        f = st.flat[0]
        e = st.elem
        if (e.max_count is None or len(p.captured[f]) < e.max_count) and bool(masks[f][i]):
            return f
        return None
    if st.op == "and":
        for f in st.flat:
            if not p.captured[f] and bool(masks[f][i]):
                return f
        return None
    # or: first capture wins, then the step is closed
    if any(p.captured[f] for f in st.flat):
        return None
    for f in st.flat:
        if bool(masks[f][i]):
            return f
    return None


def _group_match(p: _Partial, st: _Step, masks, i: int):
    """Flat index for starting step ``st`` with event i, or None."""
    if st.op == "single":
        f = st.flat[0]
        return f if bool(masks[f][i]) else None
    for f in st.flat:
        if bool(masks[f][i]):
            return f
    return None


def _elem_match(planner, valid: set[str], e: A.PatternElem, tags: dict) -> Column:
    """Row-matches-element predicate: the stream tag test as SQL text (none
    over a single stream, where it always holds), the user filter through
    ``ExprCompiler``."""
    from ..plans.expr import ExprCompiler

    c = F.expr(f"{STREAM_COL} = {tags[e.stream]}") if len(tags) > 1 else None
    if e.filter is not None:
        comp = ExprCompiler(planner._plain_resolver(valid, {e.stream}), planner.extensions)
        f = comp.compile(e.filter)
        c = f if c is None else c & f
    return F.lit(True) if c is None else c


def _try_fast_path(planner, q: A.Query, u: DataFrame, elems, tags, valid,
                   strict_after, col_of, field_names, sort_cols):
    """JVM-side (Catalyst window-function) lowering for the common 2-element
    patterns — no Python in the hot path, scales like any windowed query:

    - ``[every] a=A[pa] -> b=B[pb] [within t]``: a running count of
      pb-matches per key ranks every b; the first b after a row is the one
      whose rank is one higher than the count at that row — one running
      window (O(n) per key) + one equi-join on (key, rank).
    - ``a=A[pa] -> not B[pb] for t`` (absence): same machinery, emit when the
      next pb-match is absent or beyond the deadline.
    - ``[every] a=A[pa] , b=B[pb]`` (strict): lag() over the full per-key feed.

    The plumbing is SQL text (one server-side parse per step instead of a
    py4j round trip per Column); the order is the batch NFA's total order
    (event time, then fields, nulls last as in its pandas sort). Returns the
    match table or None if the shape needs the general NFA.
    """
    p: A.PatternInput = q.input
    if len(elems) != 2:
        return None
    a, b = elems
    if a.negated or a.is_collection or a.min_count != 1 or b.is_collection:
        return None
    if b.negated and (strict_after[0] or b.for_ms is None):
        return None
    if not b.negated and (b.min_count != 1):
        return None

    flagged = u.withColumns({
        "__is_a": _elem_match(planner, valid, a, tags),
        "__is_b": _elem_match(planner, valid, b, tags),
    })
    order = ", ".join(f"{sql_ident(c)} NULLS LAST" for c in sort_cols)
    spec = f"PARTITION BY {PK_COL} ORDER BY {order}"

    def packed(e: A.PatternElem) -> str:
        # an element's output fields travel as ONE struct: a selectExpr costs
        # a py4j command per expression string, so per-field strings would
        # make every field cost a command at every step
        return "struct(" + ", ".join(
            f"{sql_ident(f)} AS {sql_ident(col_of[(e.alias, f)])}"
            for f in field_names[e.alias]
        ) + ")"

    out = ["__a.*"] if b.negated else ["__a.*", "__b.*"]

    if strict_after[0]:
        # strict sequence over the FULL feed: previous row must be the a-match
        exprs = [
            "__is_b", f"lag(__is_a) OVER ({spec}) AS __prev_a",
            f"lag({packed(a)}) OVER ({spec}) AS __a", f"{packed(b)} AS __b",
        ]
        cond = "__is_b AND __prev_a"
        if not p.every:
            # PARITY.md contract (and the general NFA): without `every` the
            # single partial arms at the FIRST a-match per key; if its
            # immediate successor is not a b-match the sequence is dead — it
            # does NOT re-arm at the next successful pair. The previous row
            # is that first a-match iff exactly one a-match precedes this row.
            exprs.append(
                f"count(CASE WHEN __is_a THEN 1 END) OVER ({spec} "
                "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS __a_before"
            )
            cond += " AND __a_before = 1"
        return flagged.selectExpr(*exprs).filter(cond).selectExpr(*out)

    # relaxed '->': candidate rows only (predicate pushed to the scan)
    running = f"OVER ({spec} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    ranks = [f"count(CASE WHEN __is_b THEN 1 END) {running} AS __brank"]
    a_cond = "__is_a"
    if not p.every:
        ranks.append(f"count(CASE WHEN __is_a THEN 1 END) {running} AS __arank")
        a_cond += " AND __arank = 1"
    cand = flagged.filter("__is_a OR __is_b").selectExpr("*", *ranks)
    a_sel = cand.filter(a_cond).selectExpr(
        PK_COL, f"{TS_COL} AS __a_ts", "__brank + 1 AS __next_b", f"{packed(a)} AS __a",
    )
    b_sel = cand.filter("__is_b").selectExpr(
        f"{PK_COL} AS __bpk", "__brank AS __b_rank", f"{TS_COL} AS __b_ts",
        *([] if b.negated else [f"{packed(b)} AS __b"]),
    )
    if b.negated:
        # absence: no b-match within (a_ts, a_ts + for_ms]
        joined = a_sel.join(
            b_sel, F.expr(f"{PK_COL} = __bpk AND __b_rank = __next_b"), "left",
        )
        return joined.filter(
            f"__b_ts IS NULL OR __b_ts - __a_ts > {b.for_ms}"
        ).selectExpr(*out)
    if p.every_at is not None:
        # 'a -> every b': pair a with EVERY later b (suffix restarts per b),
        # not just the first — per-key equi-join + rank inequality. Match
        # fan-out is the semantic output size (each pair IS a result row),
        # within_ms bounds it in practice.
        cond = f"{PK_COL} = __bpk AND __b_rank >= __next_b"
    else:
        cond = f"{PK_COL} = __bpk AND __b_rank = __next_b"
    if p.within_ms is not None:
        cond += f" AND __b_ts - __a_ts <= {p.within_ms}"
    return a_sel.join(b_sel, F.expr(cond), "inner").selectExpr(*out)


@dataclass
class PatternFront:
    """A pattern as both operators plan it: the normalized steps, the FLAT
    elements (captures, masks and output columns are per flat element;
    the NFA reads the steps for and/or groups), their streams in first-use
    order, the strict-connector flags and the kernel shape."""

    steps: list[_Step]
    elems: list[A.PatternElem]
    streams: list[str]
    strict_after: list[bool]
    has_group: bool
    shape: str | None

    def log_engine(self, mode: str, sql: bool = False) -> None:
        """One INFO record per compile naming the engine: ``sql`` (the JVM
        fast path), a kernel shape or ``nfa``; batch treats the end of the
        data as stream close."""
        engine = "sql" if sql else pattern_engine(self.shape, mode == "batch")
        _log.info("pattern engine (%s): %s", mode, engine)


def pattern_front(p: A.PatternInput) -> PatternFront:
    """Validate and normalize a pattern for either operator: check
    ``every`` placement, flatten and/or groups, alias each flat element
    (its stream name, else ``e<i>``) and classify the kernel shape."""
    validate_every_at(p)
    steps, elems = normalize_steps(p.elems)
    used = set()
    for i, e in enumerate(elems):
        if e.alias is None:
            e.alias = e.stream if e.stream not in used else f"e{i}"
        used.add(e.alias)
    streams = list(dict.fromkeys(e.stream for e in elems))
    strict_after = [c == "," for c in p.connectors]
    has_group = len(elems) != len(p.elems)
    shape = None if has_group else kernel_shape(elems, p.every, p.every_at, strict_after)
    return PatternFront(steps, elems, streams, strict_after, has_group, shape)


def pattern_output(elems, schemas: dict):
    """The match table's columns and select resolver, shared by the batch
    and the streaming pattern operators: one column per (non-negated
    element x field of its stream), named ``alias__field``, an array for a
    collection element. ``resolve`` maps a select reference onto it:
    ``a.f``, ``a[i].f`` (collections only; null past the captured count)
    or a bare field (the first element carrying it). ``emit`` builds the
    match table's columns from the matches.

    Returns ``(out_schema, col_of, field_names, resolve, emit)``."""
    singles = [e for e in elems if not e.negated]
    out_fields: list[T.StructField] = []
    col_of: dict[tuple[str, str], str] = {}
    for e in singles:
        sch = schemas[e.stream]
        types = {f.name: f.dataType for f in sch.df.schema.fields}
        for fname in sch.fields:
            out_name = f"{e.alias}__{fname}"
            col_of[(e.alias, fname)] = out_name
            dtype = types[fname]
            out_fields.append(T.StructField(
                out_name, T.ArrayType(dtype) if e.is_collection else dtype, True,
            ))
    field_names = {e.alias: schemas[e.stream].fields for e in singles}
    collection = {e.alias: e.is_collection for e in singles}

    def resolve(ref: A.Ref) -> Column:
        if ref.stream is not None:
            key = (ref.stream, ref.name)
            if key not in col_of:
                raise SiddhiPlannerException(
                    f"unknown pattern reference {ref.stream}.{ref.name}"
                )
            c = F.col(col_of[key])
            if collection.get(ref.stream, False):
                idx = ref.index if ref.index is not None else 0
                # F.get: null past the captured count (Siddhi returns null
                # for an absent indexed binding; ANSI getItem would throw)
                return F.get(c, idx)
            if ref.index is not None:
                raise SiddhiPlannerException(f"{ref.stream} is not a collection")
            return c
        for e in singles:
            if ref.name in field_names[e.alias]:
                c = F.col(col_of[(e.alias, ref.name)])
                return F.get(c, 0) if collection[e.alias] else c
        raise SiddhiPlannerException(f"unknown column '{ref.name}' after pattern")

    def emit(found: list, take) -> list[list]:
        """The matches ``found`` (each flat element's captured row
        positions per match) as the match table's columns, in
        ``out_fields`` order. ONE ``take(field, positions) -> list`` call
        gathers each (element, field) across all matches; a single element
        without a capture reads null, a collection element a list."""
        cols = []
        for ei, e in enumerate(elems):
            if e.negated:
                continue
            picks = [cap[ei] for cap in found]
            idx = [j for pick in picks for j in pick]
            ends = list(itertools.accumulate(map(len, picks)))
            for fname in field_names[e.alias]:
                vals = take(fname, idx)
                cut = [vals[b - len(pk):b] for b, pk in zip(ends, picks)]
                cols.append(cut if e.is_collection else [c[0] if c else None for c in cut])
        return cols

    return T.StructType(out_fields), col_of, field_names, resolve, emit


def compile_pattern(planner, q: A.Query):
    """Compile a pattern query input. Returns (df, resolver, fields)."""
    p: A.PatternInput = q.input
    front = pattern_front(p)
    elems, streams, strict_after = front.elems, front.streams, front.strict_after
    schemas = {s: planner.stream_schema(s) for s in streams}
    dfs = {}
    for s in streams:
        df, sch = planner.stream_df(s)
        if sch.ts_field is None:
            raise SiddhiPlannerException(f"pattern stream '{s}' needs a ts_field")
        dfs[s] = df

    # the union's fields: every stream's fields once, first stream first
    union_fields: list[tuple[str, T.DataType]] = []
    seen: dict[str, T.DataType] = {}
    for s in streams:
        for f in dfs[s].schema.fields:
            if f.name == TS_COL:
                continue
            if f.name in seen:
                if seen[f.name] != f.dataType:
                    raise SiddhiPlannerException(
                        f"conflicting types for '{f.name}' across pattern streams"
                    )
            else:
                seen[f.name] = f.dataType
                union_fields.append((f.name, f.dataType))

    # union-by-name with nulls for missing columns, the stream as an int tag
    # and the partition key: one selectExpr per stream, whose own columns
    # pass through as "*" (one py4j command, whatever the field count)
    pk = q.partition_by or {}
    if not pk:
        from .windows import warn_global_order

        warn_global_order("un-partitioned pattern matching")
    tags = {s: i for i, s in enumerate(streams)}
    parts = []
    for s in streams:
        have = set(dfs[s].columns)
        exprs = ["*"]
        for name, dtype in union_fields:
            if name not in have:
                exprs.append(f"CAST(NULL AS {dtype.simpleString()}) AS {sql_ident(name)}")
        exprs.append(f"{tags[s]} AS {STREAM_COL}")
        if pk:
            attr = pk.get(s)
            if attr is None:
                raise SiddhiPlannerException(f"partition with: missing key for stream '{s}'")
            if attr not in have:
                raise SiddhiPlannerException(
                    f"partition with: stream '{s}' has no attribute '{attr}'"
                )
            exprs.append(f"{sql_ident(attr)} AS {PK_COL}")
        else:
            exprs.append(f"0 AS {PK_COL}")
        parts.append(dfs[s].selectExpr(*exprs))
    u = parts[0]
    for part in parts[1:]:
        u = u.unionByName(part)
    first = dfs[streams[0]].columns
    u_names = [*first, *[n for n, _ in union_fields if n not in first], STREAM_COL, PK_COL]
    valid = {STREAM_COL, TS_COL, PK_COL, *seen}

    out_schema, col_of, field_names, resolve, emit = pattern_output(elems, schemas)

    sort_cols = [TS_COL] + [n for n, _ in union_fields]
    out_names = out_schema.names

    fast = None if front.has_group else _try_fast_path(
        planner, q, u, elems, tags, valid, strict_after, col_of, field_names,
        sort_cols,
    )
    if fast is None:
        # general NFA path: pure '->' patterns without negation only ever look
        # at events matching some element — push the disjunction to the scan.
        relaxed_only = all(not s for s in strict_after) and not any(e.negated for e in elems)
        if relaxed_only:
            disj = None
            for e in elems:
                c = _elem_match(planner, valid, e, tags)
                disj = c if disj is None else (disj | c)
            u = u.filter(disj)

    # the numpy kernels replace the per-row loop in batch too; their matches
    # equal _run_nfa's, so batch output is identical, just vectorized
    front.log_engine("batch", sql=fast is not None)

    # applyInPandas resolves every input column by name, which a field name
    # holding a backtick cannot pass: the union's fields travel under
    # positional names and get their real names back on the pandas side
    pos_names = [f"__f{i}" if n in seen else n for i, n in enumerate(u_names)]

    def match_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf.columns = u_names
        pdf = pdf.sort_values(sort_cols, kind="mergesort").reset_index(drop=True)
        cols = LazyColumns(u_names, lambda c: pdf[c].to_numpy())
        masks = element_masks(elems, cols, len(pdf), tags=tags)
        found, _ = run_shape(
            front.shape, cols[TS_COL], masks, p.elems, strict_after,
            p.every, p.every_at, p.within_ms,
        )
        data = emit(found, lambda f, idx: pdf[f].take(idx).tolist())
        # dtype=object keeps empty/None-bearing columns Arrow-castable (a
        # default-constructed empty frame would be float64 -> timestamp cast error)
        return pd.DataFrame(dict(zip(out_names, data)), columns=out_names, dtype=object)

    if fast is not None:
        result = fast
    else:
        # EXPLICIT repartition by the partition key (late round 10): AQE's
        # size-based partition coalescing sees a few MB of events and
        # collapses the exchange to 1-2 partitions — but this stage's cost
        # is Python NFA compute per GROUP, not bytes, so coalescing
        # serializes every key through one worker (measured 5.9x on the
        # sf0.1 pattern entries: 10.4s -> 1.8s). AQE leaves user-specified
        # repartitions with an explicit partition count alone, and
        # groupBy on the same key reuses the exchange, so large-cluster
        # plans are unchanged (shuffle.partitions tasks either way).
        n_shuffle = int(u.sparkSession.conf.get(
            "spark.sql.shuffle.partitions", "200"
        ))
        result = (
            u.toDF(*pos_names)
            .repartition(n_shuffle, PK_COL)
            .groupBy(PK_COL)
            .applyInPandas(match_group, schema=out_schema)
        )

    return result, resolve, out_names
