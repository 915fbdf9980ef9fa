"""Vectorized batch matcher + Spark integration.

Execution model (the Spark-first replacement for the reference's per-message
``ln_normalize`` loop, src/lognormalizer.c:213-267):

* The rulebase is compiled once on the driver (:func:`compile_rulebase`)
  and shipped to executors inside the match stage's ``pandas_udf``
  closure — the broadcast-once / read-many design of the reference's
  immutable PDAG (doc/pdag_implementation_model.rst:117-123).
* Matching runs per Arrow batch (:func:`match_batch`) as named stages, in
  this order:

  1. route (:func:`_route`): factorize the rows' 16-char prefixes, then
     one memoized dispatch + fold lookup per distinct prefix;
  2. sole-rule fold (:func:`_fold_stage`): rows whose prefix proves a
     single candidate rule match that rule's own pattern;
  3. cohort fullmatch (:func:`_cohort_stage`): ONE anchored fullmatch per
     row against each prefix-compatible trie-factored cohort pattern
     (prefix sharing + priority branch order, the PDAG discipline); the
     matched rule is identified by its marker group via ``lastindex``;
  4. walker-only rules (:func:`_walker_rule_stage`), interleaved with
     stage 3 in rule priority order;
  5. walker fallback (:func:`_fallback_stage`): rows whose regex match
     failed value-dependent validation (Reject) and rows matching nothing
     take the exact-semantics walker over a prefix-indexed candidate set,
     which also produces the ``unparsed-data`` longest-parse diagnostics;
  6. frame assembly (:func:`_frame`).

  Stages 2 and 3 share one row kernel (:func:`_match_rows`): a fold is a
  one-rule cohort with a fixed extraction plan.  Extraction runs only on
  confirmed matches (two-stage detect-then-extract, same shape as the
  reference's stage-one/stage-two parsers, src/parser.c:2276-2318).

No per-row Python crosses the Spark API surface: the entry point is a
struct-returning scalar pandas_udf (``normalize_df``) over Arrow batches.
"""

from __future__ import annotations

import bisect
import json as _json

import numpy as np
import pandas as pd

from liblognorm_spark.compiler.compiler import (
    CompiledRulebase,
    ExtractPlan,
    MatchCohort,
    _NOT_PART,
    compile_rulebase,
)
from liblognorm_spark.compiler.motifs import Reject
from liblognorm_spark.rulebase.loader import Rulebase
from liblognorm_spark.runtime.walker import (
    WalkState,
    attach,
    flat_items,
    normalize_message,
    walk_flat,
    walk_seq,
)

# normalize_df's match-result columns, in output order (DDL form)
MATCH_FIELDS_DDL = (
    "rule_id int, tags array<string>, fields_json string, "
    "unparsed_data string, originalmsg string, parsed_to int, "
    "rb_file string, rb_line int"
)


def _dumps_std(ev: dict) -> str:
    return _json.dumps(ev, ensure_ascii=False, separators=(",", ":"))


try:  # orjson: ~5x faster serialization, same utf-8 output
    from orjson import dumps as _orjson_dumps

    def _dumps(ev: dict) -> str:
        try:
            return _orjson_dumps(ev).decode()
        except TypeError:
            # orjson rejects surrogate-escaped strings (undecodable input
            # bytes round-tripped via errors='surrogateescape'); the
            # reference is byte-oriented and must not crash on them
            return _dumps_std(ev)

except ImportError:  # pragma: no cover
    _dumps = _dumps_std


def _fallback_index(crb: CompiledRulebase):
    """Char-trie over leading-literal prefixes for the walker fallback:
    candidates(text) = rules whose prefix prefixes the text, in priority
    order, plus rules without a leading literal.  Cached on the rulebase."""
    idx = getattr(crb, "_fb_index", None)
    if idx is not None:
        return idx
    from liblognorm_spark.rulebase.loader import PNode

    root: dict = {}
    always: list = []
    order_of: dict = {}
    for pos, rule in enumerate(crb.ordered_rules):
        order_of[id(rule)] = pos
        seq = rule.seq
        pref = ""
        if seq and isinstance(seq[0], PNode) and seq[0].ptype == "literal" and seq[0].name is None:
            pref = seq[0].params["text"]
        if not pref:
            always.append(rule)
            continue
        node = root
        for ch in pref:
            node = node.setdefault(ch, {})
        node.setdefault("\0rules", []).append(rule)

    def candidates(text: str):
        """Returns (rules, lit_credit): candidate rules in priority order
        plus the trie descent depth — the max common prefix between the
        text and ANY leading literal, i.e. the parsedTo credit the pruned
        rules' per-char literal nodes would have produced (the reference
        credits partial literal progress; see walker._literal_partial_credit)."""
        found = list(always)
        node = root
        depth = 0
        for ch in text:
            node = node.get(ch)
            if node is None:
                break
            depth += 1
            rs = node.get("\0rules")
            if rs:
                found.extend(rs)
        if len(found) > 1:
            found.sort(key=lambda r: order_of[id(r)])
        return found, depth

    crb._fb_index = candidates
    return candidates


_DISPATCH_MAX_DEPTH = 16  # leading-literal chars indexed per rule
# cross-batch unmatched-diagnostics memo bounds: entry count AND total key
# bytes (webtext rows can be multi-KB; a count-only cap could hold
# hundreds of MB per worker)
_FB_MEMO_MAX = 65536
_FB_MEMO_MAX_BYTES = 32 << 20
_EMPTY_SET: frozenset = frozenset()


def _cohort_dispatch(crb: CompiledRulebase):
    """Char-trie over the leading literals of every regexable rule, mapping
    a message to the SET of cohort positions that could possibly match it.

    Without this, a row scans every cohort pattern sequentially (O(R/64)
    regex calls per row — the measured scale cliff at 512-2048 rules).
    With it, a row descends the trie once (~prefix-length dict hops) and
    tries only prefix-compatible cohorts; cohorts containing any rule
    without a plain leading literal are 'wildcard' and always tried.
    Cohort ORDER is preserved (candidates are emitted sorted by cohort
    position), so first-match-wins semantics are untouched.  Cached on the
    compiled rulebase."""
    cached = getattr(crb, "_dispatch", None)
    if cached is not None:
        return cached
    from liblognorm_spark.rulebase.loader import PNode

    root: dict = {}
    wildcard: list[int] = []
    for ci, cohort in enumerate(crb.cohorts):
        if not isinstance(cohort, MatchCohort):
            continue  # walker-only rules keep their own prefilter path
        is_wild = False
        prefixes = set()
        for cr in cohort.rules:
            seq = cr.rule.seq
            if (seq and isinstance(seq[0], PNode) and seq[0].ptype == "literal"
                    and seq[0].name is None and seq[0].params.get("text")):
                prefixes.add(seq[0].params["text"][:_DISPATCH_MAX_DEPTH])
            else:
                is_wild = True
        if is_wild:
            wildcard.append(ci)
            continue
        for pref in prefixes:
            node = root
            for ch in pref:
                node = node.setdefault(ch, {})
            node.setdefault("\0c", set()).add(ci)

    # propagate cumulative candidate sets down the trie so a descent does
    # ZERO set unions — each node stores the union over its whole path
    # (ancestor sets are shared objects when a node adds nothing new)
    def _propagate(node: dict, inherited: frozenset):
        own = node.get("\0c")
        cum = (inherited | own) if own else inherited
        node["\0cum"] = cum
        for k, child in node.items():
            if k not in ("\0c", "\0cum"):
                _propagate(child, cum)

    _propagate(root, frozenset())

    def dispatch(text: str):
        """Cohort positions whose rule literals prefix `text` (unsorted)."""
        node = root
        cum = _EMPTY_SET
        for ch in text[:_DISPATCH_MAX_DEPTH]:
            node = node.get(ch)
            if node is None:
                break
            cum = node["\0cum"]
        return cum

    crb._dispatch = (dispatch, frozenset(wildcard))
    return crb._dispatch


_DISPATCH_MEMO_MAX = 65536


def _dispatch_memo(crb: CompiledRulebase) -> dict:
    """prefix -> (tuple(cohort ids), fold entry | None) memo, bounded, kept
    across batches on the compiled rulebase.  Log streams repeat their
    16-char prefixes (program/host names) for hours, so after warmup a
    batch's dispatch is pure dict hits — at 8192 rules the trie descent per
    distinct prefix was ~15%% of matched-heavy batch time.  The fold entry
    (see _fold_entry) rides in the SAME memo value so the sole-rule fast
    path costs zero extra lookups per distinct prefix."""
    memo = getattr(crb, "_dispatch_memo_cache", None)
    if memo is None:
        memo = crb._dispatch_memo_cache = {}
    return memo


def _fold_index(crb: CompiledRulebase):
    """prefilter -> [CompiledRule] map + sorted prefilter list, cached on
    the rulebase.  `wildcard` is True when ANY rule has no literal prefix
    (leading motif / alternative): such a rule is prefix-compatible with
    every message, so no prefix can ever prove a sole candidate and the
    fold is disabled globally (the check is one cached-tuple read)."""
    idx = getattr(crb, "_fold_idx", None)
    if idx is None:
        by_pref: dict = {}
        wildcard = False
        for cr in crb.rules:
            p = cr.prefilter
            if not p:
                wildcard = True
            by_pref.setdefault(p, []).append(cr)
        sorted_prefs = sorted(by_pref) if not wildcard else []
        # only the literal-prefix lengths that actually occur need probing
        # (real rulebases have a handful); scanning every 1..len(u) cut
        # prefix cost the cold path can't afford
        pref_lens = sorted({len(p) for p in by_pref})
        idx = crb._fold_idx = (by_pref, sorted_prefs, wildcard, pref_lens)
    return idx


def _fold_entry(crb: CompiledRulebase, u: str):
    """If the dispatch prefix `u` PROVES (by literal-prefix analysis over
    the whole rulebase) that exactly one rule can match any text starting
    with `u`, return that rule's own ExtractPlan (over its own pattern);
    else None.

    Soundness: a rule is counted compatible with `u` when its literal
    prefix is a prefix of `u` (motifs could match anything after it) or
    extends `u` (u is the truncated dispatch window).  That over-counts —
    never under-counts — so a fold only exists when NO other rule could
    possibly match, making rule-priority order irrelevant for these rows:
    matching the sole rule's own pattern directly is exactly equivalent to
    the cohort walk, minus the trie alternation over rules that cannot
    match anyway.  This is the round-5 large-rulebase lever: with 8192
    distinct program-name rules, the cohort pattern still carries a 64-way
    branch per row; the sole-rule pattern does not."""
    by_pref, sorted_prefs, wildcard, pref_lens = _fold_index(crb)
    if wildcard or not u:
        return None
    cands: list = []
    lu = len(u)
    for L in pref_lens:
        if L > lu:
            break
        rs = by_pref.get(u[:L])
        if rs:
            cands.extend(rs)
            if len(cands) > 1:
                return None
    lo = bisect.bisect_left(sorted_prefs, u)
    for i in range(lo, len(sorted_prefs)):
        p = sorted_prefs[i]
        if not p.startswith(u):
            break
        if len(p) > len(u):  # == u already counted in the loop above
            cands.extend(by_pref[p])
            if len(cands) > 1:
                return None
    if len(cands) != 1:
        return None
    cr = cands[0]
    if cr.pattern is None:
        return None  # walker-only sole rule: keep the exact walker path
    # the plan is per-RULE, not per-prefix: cache it so the many prefixes
    # that map to one rule (sshd[1], sshd[2], ... with a 16+ char dispatch
    # window) build it once
    plan = getattr(cr, "_fold_ent", None)
    if plan is None:
        plan = cr._fold_ent = ExtractPlan.build(cr, cr.specs, cr.pattern)
    return plan


def _exec_path_of(crb: CompiledRulebase, rule) -> str:
    """metadata.exec-path string for a matched rule (pdag.h:19, emission
    pdag.c:1268-1293 under LN_CTXOPT_ADD_EXEC_PATH).

    The reference records the actual recursive walk (one entry per parser
    call, leading recursion level, literals quoted per char, [R:USR] after
    a custom-type return, [B] on backtrack, and a PATHLEN/PARSER CALLS
    trailer).  The vectorized engine matches without an equivalent walk, so
    this reconstructs the DETERMINISTIC final path — the same entries and
    trailer a backtrack-free reference walk of the matched rule would
    produce; backtrack markers are intentionally absent."""
    cache = getattr(crb, "_exec_paths", None)
    if cache is None:
        cache = crb._exec_paths = {}
    s = cache.get(rule.rule_id)
    if s is None:
        from liblognorm_spark.rulebase.loader import Alt, PNode

        toks: list[str] = []
        nlit = 0
        for item in rule.seq:
            if isinstance(item, Alt):
                toks.append("alternative")
            elif item.ptype == "literal" and item.name is None:
                for ch in item.params.get("text", ""):
                    toks.append(f"'{ch}'")
                    nlit += 1
            elif item.ptype == "custom":
                toks.append(item.params["typename"] + ",[R:USR]")
            else:
                toks.append(item.ptype)
        s = "".join(f"{i + 1}:{t}," for i, t in enumerate(toks))
        s += f"[PATHLEN:{len(toks)}, PARSER CALLS gen:{len(toks)}, literal:{nlit}]"
        cache[rule.rule_id] = s
    return s


class _Batch:
    """Per-call state the match stages share: the texts, the output
    columns (plain lists: scalar assignment is ~3x cheaper than numpy
    setitem) and the row masks."""

    def __init__(self, crb: CompiledRulebase, texts: pd.Series, decorate):
        n = len(texts)
        self.crb = crb
        self.texts = texts
        self.tvals = texts.to_numpy(dtype=object)
        self.decorate = decorate  # None on the no-options (Spark) path
        self.rule_id: list = [-1] * n
        self.fields_json: list = [None] * n
        self.unparsed: list = [None] * n
        self.originalmsg: list = [None] * n
        self.parsed_to: list = [0] * n
        # rows no stage has settled yet; rows whose regex match failed
        # value-dependent validation go to the walker instead
        self.remaining = texts.notna().to_numpy().copy()
        self.need_walker = np.zeros(n, dtype=bool)


def _decorator(crb: CompiledRulebase, add_rule_location: bool,
               add_originalmsg: bool, add_rule_mockup: bool,
               add_exec_path: bool):
    """Option-driven event decoration, ONE definition for every stage that
    records a match so they can never drift apart; None when no option is
    set, so the no-options hot path skips the call entirely."""
    if not (add_originalmsg or add_rule_location or add_rule_mockup
            or add_exec_path):
        return None

    def decorate(ev: dict, rule, t: str) -> None:
        if add_originalmsg:
            ev["originalmsg"] = t
        if add_rule_location or add_rule_mockup or add_exec_path:
            meta = {}
            meta_rule = {}
            if add_rule_mockup:
                meta_rule["mockup"] = rule.raw
            if add_rule_location:
                meta_rule["location"] = {"file": rule.rb_file, "line": rule.rb_line}
            if meta_rule:
                meta["rule"] = meta_rule
            if add_exec_path:
                meta["exec-path"] = _exec_path_of(crb, rule)
            ev["metadata"] = meta

    return decorate


def _route(b: _Batch):
    """Stage 1: send each row to the sole-rule fold or to its
    prefix-compatible cohorts, instead of scanning every cohort pattern.

    The dispatch result depends only on the first _DISPATCH_MAX_DEPTH
    chars, and log streams repeat those heavily (program/host prefixes),
    so the lookup runs once per DISTINCT prefix (factorize groups rows
    C-side), and the trie descends only on first sight: the per-prefix
    (cohort ids, fold plan | None) value is memoized across batches
    (bounded), making steady-state dispatch pure dict hits.  Rows are then
    grouped by destination with ONE vectorized argsort (per-prefix chunk
    lists cost ~15% of batch time at 8192 rules in thousands of tiny
    np.concatenate calls).

    Returns ([(fold plan, row list)], {cohort id: [row arrays]}); rows
    with no candidate cohort appear in neither and reach the fallback."""
    crb = b.crb
    folds: list = []
    cohort_rows: dict = {}
    rows = np.flatnonzero(b.remaining)
    if not len(rows):
        return folds, cohort_rows
    dispatch, _ = _cohort_dispatch(crb)
    dmemo = _dispatch_memo(crb)
    dmemo_get = dmemo.get
    room = _DISPATCH_MEMO_MAX - len(dmemo)
    keys = np.array([t[:_DISPATCH_MAX_DEPTH] for t in b.tvals[rows]], dtype=object)
    codes, uniques = pd.factorize(keys)
    # one destination per distinct fold plan / cohort-id tuple
    targets: list = []  # ExtractPlan | tuple(cohort ids)
    slot_of: dict = {}  # id(plan) | cohort-id tuple -> index in targets
    uslot = np.empty(len(uniques), dtype=np.int64)
    for k, u in enumerate(uniques.tolist()):
        ent = dmemo_get(u)
        if ent is None:
            if room > 0:
                # the fold plan is only worth looking up when it will be
                # memoized: un-cached, the lookup dwarfs the ~2-row payoff
                ent = dmemo[u] = (tuple(dispatch(u)), _fold_entry(crb, u))
                room -= 1
            else:
                ent = (tuple(dispatch(u)), None)
        cis, fold = ent
        key = cis if fold is None else id(fold)
        slot = slot_of.get(key)
        if slot is None:
            slot = slot_of[key] = len(targets)
            targets.append(cis if fold is None else fold)
        uslot[k] = slot
    row_slot = uslot[codes]
    rows_sorted = rows[np.argsort(row_slot, kind="stable")]
    ends = np.cumsum(np.bincount(row_slot, minlength=len(targets))).tolist()
    start = 0
    for target, end in zip(targets, ends):
        seg = rows_sorted[start:end]
        start = end
        if isinstance(target, tuple):
            for ci in target:
                cohort_rows.setdefault(ci, []).append(seg)
        else:
            # tolist(): the kernel indexes python lists per row, and
            # np.int64 positions pay a conversion on every access
            folds.append((target, seg.tolist()))
    return folds, cohort_rows


def _match_rows(b: _Batch, rows: list, fixed_plan: ExtractPlan | None,
                cohort: MatchCohort | None) -> None:
    """The row kernel of stages 2 and 3: per row ONE anchored fullmatch,
    then extract the fields, encode and record.  A sole-rule fold passes
    its rule's plan (a one-rule cohort with a fixed plan, matched by the
    rule's own pattern); a cohort passes itself, and each match's plan
    comes from its marker group."""
    if fixed_plan is not None:
        fullmatch = fixed_plan.cr.pattern.fullmatch
    else:
        fullmatch = cohort.pattern.fullmatch
        marker_get = cohort.by_marker.get
        plan_for = cohort.plan_for
    # per-row constants hoisted to locals (global/attribute lookups cost
    # real time at 20k+ rows per batch)
    tvals = b.tvals
    types = b.crb.types
    rule_id, fields_json, parsed_to = b.rule_id, b.fields_json, b.parsed_to
    need_walker = b.need_walker
    decorate = b.decorate
    dumps = _dumps
    not_part = _NOT_PART
    attach_ = attach
    # numpy bool setitem per row is measurable; batch the flips (correct
    # because a pos appears at most once in `rows`, and `remaining` is only
    # read again by LATER stages)
    done: list = []
    done_add = done.append
    for pos in rows:
        t = tvals[pos]
        m = fullmatch(t)
        if m is None:
            continue
        # lastindex IS the rule marker in the common case; plan_for keeps
        # the safety-net scan for exotic matches
        plan = fixed_plan or marker_get(m.lastindex) or plan_for(m)
        try:
            ev: dict = {}
            if plan.has_complex:
                for fs in plan.specs_rev:
                    v = fs.extract(m, t, types)
                    if v is not_part:
                        continue
                    attach_(ev, fs.name, v)
            else:  # fast path: all captures are plain strings
                # (a single m.group(*ids) call was tried and is ~30% slower
                # than per-group calls: the argument unpacking + result
                # tuple cost more than the extra C calls)
                group = m.group
                for gi, name in plan.simple_rev:
                    v = group(gi)
                    if v is not None:
                        ev[name] = v
        except Reject:
            need_walker[pos] = True
            done_add(pos)
            continue
        if plan.extra_fields:
            ev.update(plan.extra_fields)
        if decorate is not None:
            decorate(ev, plan.rule, t)
        rule_id[pos] = plan.rule_id
        fields_json[pos] = dumps(ev)
        parsed_to[pos] = len(t)
        done_add(pos)
    if done:
        b.remaining[done] = False


def _fold_stage(b: _Batch, folds: list) -> None:
    """Stage 2: rows whose dispatch prefix proves a single candidate rule
    match that rule's OWN pattern directly — the cohort semantics minus the
    cohort trie's alternation over rules the prefix already ruled out.  A
    miss here is definitive (the one compatible rule failed), so the row
    falls through to the unmatched diagnostics like any other regex miss;
    Reject still routes to the exact walker."""
    for plan, rows in folds:
        _match_rows(b, rows, plan, None)


def _cohort_stage(b: _Batch, cohort: MatchCohort, parts: list | None,
                  wild: bool) -> None:
    """Stage 3, one cohort: its routed rows (all unsettled rows for a
    wildcard cohort, one holding a rule without a plain leading literal)
    that no earlier stage settled."""
    if wild:
        rows = np.flatnonzero(b.remaining).tolist()
    elif parts:
        arr = parts[0] if len(parts) == 1 else np.concatenate(parts)
        rows = arr[b.remaining[arr]].tolist()
    else:
        return
    _match_rows(b, rows, None, cohort)


def _walker_rule_stage(b: _Batch, cr) -> None:
    """Stage 4, one walker-only rule: exact per-row walk over the unsettled
    rows its literal prefix admits."""
    if cr.prefilter:
        pref = b.texts.str.startswith(cr.prefilter, na=False).to_numpy()
        rows = np.flatnonzero(b.remaining & pref).tolist()
    else:
        rows = np.flatnonzero(b.remaining).tolist()
    types = b.crb.types
    flat = flat_items(cr.rule)
    for pos in rows:
        t = b.tvals[pos]
        st = WalkState(text=t, strlen=len(t), types=types)
        ev: dict = {}
        ok = (walk_flat(st, flat, ev) if flat is not None
              else walk_seq(st, cr.rule.seq, 0, 0, False, ev, None))
        if ok:
            if cr.extra_fields:
                ev.update(cr.extra_fields)
            if b.decorate is not None:
                b.decorate(ev, cr.rule, t)
            b.rule_id[pos] = cr.rule_id
            b.fields_json[pos] = _dumps(ev)
            b.parsed_to[pos] = len(t)
            b.remaining[pos] = False


def _fallback_stage(b: _Batch) -> None:
    """Stage 5: unmatched rows + validation rejects -> exact walker over
    the prefix-index candidate set (rules whose leading literal can
    possibly match); the pruned rules' partial-literal parsedTo credit is
    carried over from the trie descent depth.

    Memoized by FULL text: the result is a pure function of the text (same
    rulebase), and log streams repeat unparsed lines heavily — a malformed
    heartbeat repeats for hours — so identical rows pay one dict hit
    instead of a re-walk.  The no-options path (the Spark hot path) keeps
    the memo across batches on the compiled rulebase, size-capped;
    option-bearing calls memoize per batch (the options change the emitted
    event).  (A whole-batch pre-pass consulting this memo was tried and
    removed: it pays a dict get for EVERY row to save only the
    repeated-unmatched rows' regex fails — break-even at ~23% repeat-
    unmatched share, a net loss on typical streams where unparsed rows are
    <5%.)"""
    crb = b.crb
    index = _fallback_index(crb)
    if b.decorate is not None:
        fb_memo: dict = {}
        fb_bytes = 0
    else:
        fb_memo = getattr(crb, "_fb_memo", None)
        if fb_memo is None:
            fb_memo = crb._fb_memo = {}
            crb._fb_memo_bytes = 0
        fb_bytes = crb._fb_memo_bytes
    fb_room = _FB_MEMO_MAX - len(fb_memo)
    for pos in np.flatnonzero(b.remaining | b.need_walker).tolist():
        t = b.tvals[pos]
        res = fb_memo.get(t)
        if res is None:
            cand_rules, lit_credit = index(t)
            rule, ev, pto = normalize_message(
                cand_rules, t, crb.types, crb.annotations,
                initial_parsed_to=lit_credit, v1_engine=crb.version == 1,
            )
            if rule is None:
                res = (-1, _dumps(ev), ev["unparsed-data"], ev["originalmsg"], pto)
            else:
                if b.decorate is not None:
                    b.decorate(ev, rule, t)
                res = (rule.rule_id, _dumps(ev), None, None, pto)
            if fb_room > 0 and fb_bytes + len(t) <= _FB_MEMO_MAX_BYTES:
                fb_memo[t] = res
                fb_room -= 1
                fb_bytes += len(t)
        rid, fj, up, om, pto = res
        b.parsed_to[pos] = pto
        b.fields_json[pos] = fj
        if rid >= 0:
            b.rule_id[pos] = rid
        else:
            b.unparsed[pos] = up
            b.originalmsg[pos] = om
    if b.decorate is None:
        crb._fb_memo_bytes = fb_bytes


def _frame(b: _Batch) -> pd.DataFrame:
    """Stage 6: the per-row result columns."""
    return pd.DataFrame(
        {
            "rule_id": pd.array(b.rule_id, dtype="int32"),
            "fields_json": b.fields_json,
            "unparsed_data": b.unparsed,
            "originalmsg": b.originalmsg,
            "parsed_to": pd.array(b.parsed_to, dtype="int32"),
        }
    )


def match_batch(crb: CompiledRulebase, texts: pd.Series,
                add_rule_location: bool = False,
                add_originalmsg: bool = False,
                add_rule_mockup: bool = False,
                add_exec_path: bool = False) -> pd.DataFrame:
    """Normalize a batch of messages.  Returns a DataFrame with the per-row
    columns rule_id, fields_json, unparsed_data, originalmsg and parsed_to,
    index-aligned positionally with `texts` (the per-rule constants tags,
    rb_file and rb_line follow from rule_id; normalize_df adds them).

    `add_rule_location` mirrors LN_CTXOPT_ADD_RULE_LOCATION
    (src/pdag.c:1254-1263: metadata.rule.location {file,line});
    `add_originalmsg` mirrors LN_CTXOPT_ADD_ORIGINALMSG
    (src/pdag.c:1672-1677); `add_rule_mockup` mirrors LN_CTXOPT_ADD_RULE
    (src/pdag.c:1246-1251: metadata.rule.mockup, the matched rule's
    template)."""
    b = _Batch(crb, texts, _decorator(crb, add_rule_location, add_originalmsg,
                                      add_rule_mockup, add_exec_path))
    folds, cohort_rows = _route(b)
    _fold_stage(b, folds)
    _, wild_cohorts = _cohort_dispatch(crb)
    # stages 3 and 4 run in rule priority order: first match wins
    for ci, cohort in enumerate(crb.cohorts):
        if not b.remaining.any():
            break
        if isinstance(cohort, MatchCohort):
            _cohort_stage(b, cohort, cohort_rows.get(ci), ci in wild_cohorts)
        else:
            _walker_rule_stage(b, cohort)
    _fallback_stage(b)
    return _frame(b)


def normalize_strings(rb: Rulebase | CompiledRulebase, lines: list[str]) -> list[dict]:
    """Pure-Python convenience API (tests / CLI parity): normalize a list of
    strings, returning the event dicts the reference CLI would emit."""
    crb = rb if isinstance(rb, CompiledRulebase) else compile_rulebase(rb)
    df = match_batch(crb, pd.Series(lines, dtype=object))
    return [_json.loads(s) if s else {} for s in df["fields_json"]]


def normalize_df(df, rb: Rulebase | CompiledRulebase, text_col: str = "text"):
    """Spark entry point: adds match-result columns to `df`.

    A struct-returning scalar pandas_udf over ONLY the text column: the
    other input columns never cross the Arrow boundary (they stay JVM-side
    and are re-attached by projection), which keeps the Python worker's
    serialization bill proportional to the text, not the row width.
    """
    from pyspark.sql import functions as F

    crb = rb if isinstance(rb, CompiledRulebase) else compile_rulebase(rb)
    # The udf returns only the per-row-varying fields; constants-per-rule
    # (tags, rulebase location) are reconstructed JVM-side from rule_id via
    # literal maps — they never cross the Arrow boundary, cutting the
    # JVM-side batch decode that co-bottlenecks with Python at high core
    # counts.
    # originalmsg is also rebuilt JVM-side: it is by definition the input
    # text of unmatched rows (match_batch sets it iff unparsed), and the
    # JVM still holds the text column — shipping it back through Arrow
    # would double-transfer every unparsed row's text.
    struct_ddl = (
        "struct<rule_id:int, fields_json:string, "
        "unparsed_data:string, parsed_to:int>"
    )

    @F.pandas_udf(struct_ddl)
    def _match(s: pd.Series) -> pd.DataFrame:
        return match_batch(crb, s).drop(columns="originalmsg")

    out = (
        df.withColumn("_m", _match(F.col(text_col)))
        .select("*", "_m.*")
        .drop("_m")
        .withColumn(
            "originalmsg",
            F.when(F.col("unparsed_data").isNotNull(), F.col(text_col)),
        )
    )
    if crb.rules:
        ids = F.array(*[F.lit(cr.rule_id) for cr in crb.rules])
        tags_map = F.map_from_arrays(
            ids, F.array(*[F.array(*[F.lit(t) for t in cr.tags]) for cr in crb.rules])
        )
        file_map = F.map_from_arrays(
            ids, F.array(*[F.lit(cr.rule.rb_file) for cr in crb.rules])
        )
        line_map = F.map_from_arrays(
            ids, F.array(*[F.lit(cr.rule.rb_line) for cr in crb.rules])
        )
        out = (
            out.withColumn("tags", F.element_at(tags_map, F.col("rule_id")))
            .withColumn("rb_file", F.element_at(file_map, F.col("rule_id")))
            .withColumn("rb_line", F.element_at(line_map, F.col("rule_id")).cast("int"))
        )
    else:
        out = (
            out.withColumn("tags", F.lit(None).cast("array<string>"))
            .withColumn("rb_file", F.lit(None).cast("string"))
            .withColumn("rb_line", F.lit(None).cast("int"))
        )
    # canonical column order is part of the API: input columns first, then
    # the MATCH_FIELDS_DDL order
    match_cols = [p.split()[0] for p in MATCH_FIELDS_DDL.split(", ")]
    return out.select(*df.columns, *match_cols)
