"""Rulebase -> compiled vectorized matcher.

Compiles each rule's linearized parser sequence into ONE anchored Python
regex with named groups (the fast path executed over pandas string batches),
plus metadata to turn captures into the output JSON event.  Design notes:

* Motif fragments use possessive quantifiers / atomic groups so the regex
  cannot backtrack *inside* a motif — the reference's parsers are greedy
  single-pass (e.g. ``number`` consumes all digits; a following literal
  digit can never match, src/parser.c:784-827).  Backtracking *across*
  alternatives mirrors the PDAG's backtracking (src/pdag.c:1588-1599).
* Fragments are constructed to accept a SUPERSET of the C parser's
  language where exactness is cheap, with a post-match validator that
  re-parses the captured span with the exact walker; a mismatch raises
  :class:`Reject` and the row falls back to the full walker across all
  rules.  Fragments must never under-match (a missed match could let a
  lower-priority rule win).
* Rule order mirrors PDAG child ordering: a trie over parser-config tokens
  ordered by combined priority (src/pdag.c:378-398) with insertion order
  as tie-break; DFS over the trie yields the global first-match-wins rule
  order.
"""

from __future__ import annotations

import json as _json
import re
from dataclasses import dataclass, field
from typing import Callable, Optional

from liblognorm_spark.compiler import motifs as M
from liblognorm_spark.compiler.motifs import Reject
from liblognorm_spark.rulebase.loader import Alt, PNode, Rule, Rulebase
from liblognorm_spark.runtime.walker import WalkState, attach, walk_seq

RE_SP = r"[ \t\n\v\f\r]"
OCTET = r"(?:[01][0-9]{2}|2[0-4][0-9]|25[0-5]|[0-9]{1,2})(?![0-9])"
IPV4_FRAG = rf"{OCTET}\.{OCTET}\.{OCTET}\.{OCTET}"


# ---------------------------------------------------------------- fragments


def _frag_literal(p):
    return re.escape(p["text"])


def _neg_class(chars: str) -> str:
    inner = "".join(re.escape(c) for c in chars)
    return f"[^{inner}]"


# fragment builders: p(params) -> regex str (no capture group) or None
FRAGMENTS: dict[str, Optional[Callable[[dict], Optional[str]]]] = {
    "literal": _frag_literal,
    "whitespace": lambda p: RE_SP + "++",
    "word": lambda p: r"[^ ]++",
    "alpha": lambda p: r"[A-Za-z]++",
    "number": lambda p: r"[0-9]++",
    # the optional fraction group must be POSSESSIVE ('?+'): the C parser
    # consumes '2.' in one pass and never gives the dot back, so a rule
    # 'float%.' must NOT match '2.' via regex backtracking (fuzz-found)
    "float": lambda p: r"(?:-[0-9]*+(?:\.[0-9]*+)?+|[0-9]++(?:\.[0-9]*+)?+|\.[0-9]*+)",
    "hexnumber": lambda p: rf"0x[0-9a-fA-F]*+(?={RE_SP})",
    "kernel-timestamp": lambda p: r"\[[0-9]{5,12}\.[0-9]{6}\]",
    "rest": lambda p: r"(?s:.*+)",
    "string-to": lambda p: (
        rf"(?>(?s:.+?)(?={re.escape(p['extradata'])}))" if p.get("extradata") else None
    ),
    "char-to": lambda p: (
        rf"(?>{_neg_class(p['extradata'])}++)(?=[{''.join(re.escape(c) for c in p['extradata'])}])"
        if p.get("extradata")
        else None
    ),
    "char-sep": lambda p: rf"{_neg_class(p.get('extradata', ''))}*+",
    "op-quoted-string": lambda p: r"(?>\"[^\"]*+\"|(?!\")[^ ]++)",
    "quoted-string": lambda p: r"\"[^\"]*+\"",
    "date-iso": lambda p: r"[0-9]{4}-(?:0[1-9]|1[0-2])-(?:0[1-9]|[12][0-9]|3[01])",
    "time-24hr": lambda p: r"(?:[01][0-9]|2[0-3]):[0-5][0-9]:[0-5][0-9]",
    "time-12hr": lambda p: r"(?:0[0-9]|1[0-2]):[0-5][0-9]:[0-5][0-9]",
    "duration": lambda p: r"[0-9]{1,2}:[0-5][0-9]:[0-5][0-9]",
    "ipv4": lambda p: IPV4_FRAG,
    "mac48": lambda p: r"[0-9a-fA-F]{2}(?:(?::[0-9a-fA-F]{2}){5}|(?:-[0-9a-fA-F]{2}){5})",
    # superset fragment, exactness restored by walker validation:
    "ipv6": lambda p: r"(?>[0-9A-Fa-f:.]++)",
    # exact value-range fragments (mirror hParseInt leading-zero semantics):
    # day 1-31, hour 0-23 (1971-2099 in hour position = year, skipped),
    # minute 0-59, second 0-60, optional trailing ':' (parser.c:493-730)
    # int fields parse via hParseInt (parser.c:63-78), which returns 0 on
    # ZERO digits — so hour/minute/second (range checks admit 0) may be
    # EMPTY ("Jan 10 00:00:" is a valid 3164 date with second=0, and
    # "-1-1T::Z" a valid 5424 one: year is never range-checked at all)
    "date-rfc3164": lambda p: (
        r"(?i:jan|feb|mar|apr|may|jun|jul|aug|sep|oct|nov|dec)"
        r"  ?0*(?:3[01]|[12][0-9]|[1-9])(?![0-9])"
        r" (?:0*(?:19(?:7[1-9]|[89][0-9])|20[0-9][0-9])(?![0-9]) )?"
        r"(?:0*(?:2[0-3]|1[0-9]|[0-9]))?+(?![0-9])"
        r":(?:0*(?:[1-5][0-9]|[0-9]))?+(?![0-9])"
        r":(?:0*(?:60|[1-5][0-9]|[0-9]))?+(?![0-9]):?+"
    ),
    "date-rfc5424": lambda p: (
        r"[0-9]*+-0*(?:1[0-2]|[1-9])(?![0-9])-0*(?:3[01]|[12][0-9]|[1-9])(?![0-9])"
        r"T(?:0*(?:2[0-3]|1[0-9]|[0-9]))?+(?![0-9]):(?:0*(?:[1-5][0-9]|[0-9]))?+(?![0-9])"
        r":(?:0*(?:60|[1-5][0-9]|[0-9]))?+(?![0-9])(?:\.[0-9]*+)?"
        r"(?:Z|[+-](?:0*(?:2[0-3]|1[0-9]|[0-9]))?+(?![0-9]):(?:0*(?:[1-5][0-9]|[0-9]))?+(?![0-9]))(?= |$)"
    ),
    # exact: name chars, value = non-space run, exactly one SP between
    # fields, >=2 fields, consumes to EOS (parser.c:2212-2326)
    "v2-iptables": lambda p: (
        r"(?>[A-Z]++(?:=[^ \t\n\v\f\r]*+)?(?: [A-Z]++(?:=[^ \t\n\v\f\r]*+)?)++)(?![\s\S])"
    ),
    "name-value-list": None,  # built dynamically in _frag_nvl
    "checkpoint-lea": lambda p: r"(?>(?: *+[^:]*+:[^;]*+;)++ *+)",
    # greedy guarded fragments — the walker validator re-parses the span
    # and Rejects when the true consumption differs (e.g. a non-terminal
    # json motif), sending the row to the exact full walker:
    "json": lambda p: r"(?=[{\]])(?s:.++)",
    "cee-syslog": lambda p: r"@cee:[ \t\n\v\f\r]*+\{(?s:.*+)",
    "cef": lambda p: r"CEF:0\|(?s:.*+)",
    "cisco-interface-spec": None,
    "string": None,
    "repeat": None,  # handled structurally (body/while may be regexable)
    "custom": None,  # handled structurally
}

def _needs_walker(ptype: str, params: dict) -> bool:
    """Does this capture need the exact walker for validation or value
    construction?  Exact fragments with string values skip it entirely."""
    if ptype in ("ipv6", "name-value-list", "checkpoint-lea", "repeat",
                 "json", "cee-syslog", "cef", "cisco-interface-spec",
                 "string", "op-quoted-string"):
        return True
    if ptype in ("date-rfc3164", "date-rfc5424"):
        # fragment is exact; walker only needed for unix-epoch coercion
        return params.get("format") not in (None, "string")
    return False


_IPT_PAIR_RE = re.compile(r"([A-Z]+)(?:=([^ \t\n\v\f\r]*))?")


def _fast_iptables(raw: str) -> dict:
    """Build the iptables map from an already-validated span (the fragment
    is exact): duplicate names keep the last value, flags map to null
    (parser.c:2260-2264)."""
    out = {}
    for m in _IPT_PAIR_RE.finditer(raw):
        out[m.group(1)] = m.group(2)
    return out


def _frag_nvl(p) -> str:
    """name-value-list superset fragment (exact via walker validation)."""
    sep = p.get("separator") or p.get("extradata") or ""
    ass = (p.get("assignator") or "=")[:1] or "="
    sep_cls = f"[{re.escape(sep)}]" if sep else RE_SP
    if p.get("assignator"):
        name = rf"(?:(?!{re.escape(ass)})[\s\S])++"
    else:
        name = r"[A-Za-z0-9._-]++"
    # trailing lone backslash at EOS is consumed (the C escape scan steps
    # past it; mirrored by the walker's _nv_regexes) — without this tail
    # the fragment is NOT a superset and '0=\' style pairs fall through
    bare = rf"(?:\\[\s\S]|(?!{sep_cls})[^\\])*+(?:\\(?![\s\S]))?"
    quoted = r"\"(?:\\[\s\S]|[^\"\\])*+\"|'(?:\\[\s\S]|[^'\\])*+'"
    pair = rf"{name}{re.escape(ass)}(?:{quoted}|{bare})"
    return rf"(?>(?:{pair}(?:{sep_cls}++{pair})*+{sep_cls}*+)?)"


@dataclass
class FieldSpec:
    """Metadata for one captured field in a compiled rule."""

    gname: str
    name: Optional[str]
    node: PNode
    sub: Optional[list] = None  # sub-FieldSpecs for custom-type objects

    def extract(self, m: re.Match, text: str, types: dict):
        """Captured text -> JSON value (may raise Reject)."""
        raw = m.group(self.gname)
        if raw is None:
            return _NOT_PART
        node = self.node
        if self.sub is not None:  # custom type -> object from sub-captures
            child: dict = {}
            for fs in reversed(self.sub):  # leftmost attaches last (fixJSON)
                v = fs.extract(m, text, types)
                if v is _NOT_PART:
                    continue
                attach(child, fs.name, v)
            return child
        ptype = node.ptype
        if ptype == "v2-iptables":
            return _fast_iptables(raw)
        if _needs_walker(ptype, node.params):
            start = m.start(self.gname)
            if ptype == "repeat":
                from liblognorm_spark.runtime.walker import _parse_repeat

                st = WalkState(text=text, strlen=len(text), types=types)
                res3 = _parse_repeat(st, node, start)
                res = (res3[1], res3[2]) if res3[0] else None
            else:
                res = M.PARSERS[ptype](text, start, node.params)
            if res is None or res[0] != len(raw):
                raise Reject(ptype)
            return res[1]
        # scalar fast path with value-dependent checks
        if ptype == "number":
            maxval = int(node.params.get("maxval", 0))
            if maxval > 0 and int(raw) > maxval:
                raise Reject("number maxval")
        elif ptype == "hexnumber":
            maxval = int(node.params.get("maxval", 0))
            if maxval > 0 and int(raw, 16) > maxval:
                raise Reject("hexnumber maxval")
        return M.coerce_value(ptype, raw, node.params)


_NOT_PART = object()  # sentinel: group did not participate in the match


class _Ctx:
    def __init__(self, types: dict):
        self.types = types
        self.counter = 0
        self.regexable = True

    def gname(self) -> str:
        self.counter += 1
        return f"g{self.counter}"


def _flat_literal(seq):
    """Full literal text if the seq is only unnamed literals, else None."""
    if seq and all(
        isinstance(it, PNode) and it.ptype == "literal" and it.name is None for it in seq
    ):
        return "".join(it.params.get("text", "") for it in seq)
    return None


def _head_merge_key(seq):
    """PDAG merge identity of a seq's first item (walker._merge_key twin) —
    used to detect shared-prefix type alternatives the regex path cannot
    emulate."""
    if not seq:
        return ("empty",)
    it = seq[0]
    if isinstance(it, Alt):
        return ("alt", id(it))
    if it.ptype == "literal" and it.name is None:
        return ("lit", it.params.get("text", "")[:1], None)
    return (it.ptype, it.name, repr(sorted(it.params.items(), key=lambda kv: kv[0])))


def _item_fragment(item, ctx: _Ctx, specs: list, capture: bool) -> str:
    """Build the regex fragment for one Seq item; append FieldSpecs."""
    if isinstance(item, Alt):
        alts = sorted(item.alts, key=lambda s: s[0].prio if s else 1 << 30)
        parts = [_seq_fragment(s, ctx, specs, capture) for s in alts]
        return "(?:" + "|".join(parts) + ")"
    node: PNode = item
    ptype = node.ptype
    if ptype == "custom":
        tname = node.params["typename"]
        type_alts = ctx.types.get(tname)
        if not type_alts:
            ctx.regexable = False
            return ""
        # Reference semantics (pdag.c:1435-1442): a type walk is ATOMIC — it
        # commits to its first terminal success and outer failure never
        # re-enters it — and at shared-prefix nodes the deeper continuation
        # is preferred over the terminal.  Regex twin: an atomic group with
        # pure-literal alternatives ordered longest-first.  Two corners are
        # not regex-expressible and fall back to the exact walker:
        #  * a strict-prefix literal pair with >1 extra char (a failed
        #    deeper branch still extends consumed via npb->parsedTo);
        #  * non-literal alternatives sharing a mergeable head parser
        #    (deep-first walking inside a shared prefix).
        alts_sorted = sorted(type_alts, key=lambda s: s[0].prio if s else 1 << 30)
        lits = [_flat_literal(s) for s in alts_sorted]
        if all(l is not None for l in lits):
            for a in lits:
                for b in lits:
                    if a != b and b.startswith(a) and len(b) - len(a) > 1:
                        ctx.regexable = False
                        return ""
            alts_sorted = [s for _, s in sorted(zip(lits, alts_sorted),
                                                key=lambda p: -len(p[0]))]
        else:
            heads = [_head_merge_key(s) for s in alts_sorted]
            if len(set(heads)) < len(heads):
                ctx.regexable = False
                return ""
        sub_specs: list = []
        alt_frags = [_seq_fragment(s, ctx, sub_specs, capture) for s in alts_sorted]
        inner = "(?>" + "|".join(alt_frags) + ")"
        if not ctx.regexable:
            return ""
        if capture and node.name is not None:
            g = ctx.gname()
            specs.append(FieldSpec(gname=g, name=node.name, node=node, sub=sub_specs))
            return f"(?P<{g}>{inner})"
        # unnamed custom type: sub-captures are discarded (fixJSON name=None)
        return inner
    if ptype == "repeat":
        body_specs: list = []
        b = _seq_fragment(node.params["parser_seq"], ctx, body_specs, capture=False)
        w = _seq_fragment(node.params["while_seq"], ctx, [], capture=False)
        if not ctx.regexable or node.params.get("option.permitMismatchInParser"):
            ctx.regexable = False
            return ""
        inner = f"(?>(?:{b})(?:(?:{w})(?:{b}))*+)"
        if capture and node.name is not None:
            g = ctx.gname()
            specs.append(FieldSpec(gname=g, name=node.name, node=node))
            return f"(?P<{g}>{inner})"
        return inner
    builder = _frag_nvl if ptype == "name-value-list" else FRAGMENTS.get(ptype)
    if builder is None:
        ctx.regexable = False
        return ""
    frag = builder(node.params)
    if frag is None:
        ctx.regexable = False
        return ""
    if capture and node.name is not None:
        g = ctx.gname()
        specs.append(FieldSpec(gname=g, name=node.name, node=node))
        return f"(?P<{g}>{frag})"
    return f"(?:{frag})"


def _seq_fragment(seq, ctx: _Ctx, specs: list, capture: bool) -> str:
    return "".join(_item_fragment(it, ctx, specs, capture) for it in seq)


@dataclass
class CompiledRule:
    rule: Rule
    pattern: Optional[re.Pattern]  # None -> walker-only rule
    specs: list  # list[FieldSpec]
    prefilter: str  # literal prefix for cheap vectorized candidate filtering
    frag: str = ""  # the raw fragment (for master-alternation assembly)
    order: int = 0
    # constant per-rule event fields: event.tags + tag annotations
    extra_fields: dict = field(default_factory=dict)

    def finish(self, annotations: dict):
        if self.tags:
            self.extra_fields["event.tags"] = list(self.tags)
            for tag in reversed(self.tags):  # reverse order, annot.c:229
                for k, v in (annotations.get(tag) or {}).items():
                    self.extra_fields[k] = v
        return self

    @property
    def rule_id(self):
        return self.rule.rule_id

    @property
    def tags(self):
        return self.rule.tags


def _literal_prefix(seq) -> str:
    if seq and isinstance(seq[0], PNode) and seq[0].ptype == "literal":
        return seq[0].params["text"]
    return ""


def compile_rule(rule: Rule, types: dict, ctx: _Ctx | None = None) -> CompiledRule:
    """`ctx` may be shared across rules so group names stay unique inside a
    master alternation."""
    if ctx is None:
        ctx = _Ctx(types)
    ctx.regexable = True
    specs: list = []
    frag = _seq_fragment(rule.seq, ctx, specs, capture=True)
    pattern = None
    if ctx.regexable:
        try:
            pattern = re.compile(frag)
        except re.error:
            pattern = None
    return CompiledRule(
        rule=rule,
        pattern=pattern,
        specs=specs if pattern is not None else [],
        prefilter=_literal_prefix(rule.seq),
        frag=frag if pattern is not None else "",
    )


def _is_simple_capture(fs: FieldSpec) -> bool:
    """True when the capture's matched text IS the field value (a plain
    string assignment): no sub-captures, no value-dependent validation and
    no value conversion."""
    node = fs.node
    return (
        fs.sub is None
        and not _needs_walker(node.ptype, node.params)
        and "format" not in node.params
        and "maxval" not in node.params
        and node.ptype != "v2-iptables"
    )


@dataclass
class ExtractPlan:
    """Per-rule extraction metadata for one match pattern: a trie cohort's
    (one plan per rule marker) or the rule's own (the matcher's sole-rule
    fold).  Holds exactly what the matcher's row kernel reads per row,
    precomputed once: the spec lists reversed (the leftmost parser attaches
    last and wins on duplicate names, bottom-up fixJSON, src/pdag.c:1584),
    simple captures resolved to INTEGER group indices (m.group(int) skips
    the name lookup), and the rule's attributes flattened (cr.rule_id is a
    property, cr.rule.* a 2-hop chain; both measurable at 20k+ matched rows
    per batch)."""

    cr: "CompiledRule"
    specs_rev: tuple  # FieldSpecs along the rule's pattern path
    simple_rev: tuple  # ((group index, name), ...) plain-string captures
    has_complex: bool
    rule_id: int
    extra_fields: dict
    rule: Rule

    @classmethod
    def build(cls, cr, specs, pattern: re.Pattern):
        gidx = pattern.groupindex
        simple = [(gidx[fs.gname], fs.name) for fs in specs if _is_simple_capture(fs)]
        return cls(cr=cr, specs_rev=tuple(reversed(specs)),
                   simple_rev=tuple(reversed(simple)),
                   has_complex=len(simple) < len(specs), rule_id=cr.rule_id,
                   extra_fields=cr.extra_fields, rule=cr.rule)


class _TrieNode:
    __slots__ = ("item", "children", "ins", "terminals")

    def __init__(self, item=None, ins=0):
        self.item = item
        self.children: dict = {}
        self.ins = ins
        self.terminals: list = []


def _expand_items(seq):
    """Literals split per char so rules share prefixes mid-literal, exactly
    like the PDAG's one-node-per-char loading (src/samp.c:320-325)."""
    for item in seq:
        if isinstance(item, PNode) and item.ptype == "literal" and item.name is None:
            for ch in item.params["text"]:
                yield PNode(ptype="literal", name=None, params={"text": ch},
                            user_prio=item.user_prio)
        else:
            yield item  # named literals keep their capture; Alt/customs opaque


def _edge_key(item):
    if isinstance(item, Alt):
        ident = _json.dumps(
            [[_node_ident(n) for n in s if isinstance(n, PNode)] for s in item.alts],
            sort_keys=True,
        )
        return (item.prio, "alt:" + ident)
    return (item.prio, _node_ident(item))


def _is_plain_lit(item) -> bool:
    return isinstance(item, PNode) and item.ptype == "literal" and item.name is None


@dataclass
class MatchCohort:
    """A maximal run of consecutive (priority-ordered) regexable rules
    fused into ONE trie-factored pattern: rules share prefixes exactly like
    the reference PDAG (src/pdag.c:847-866), so per-row match cost stays
    near-constant as the rulebase grows instead of O(rules).  Branch order
    inside every trie node is combined-priority order with insertion-order
    tie-break (src/pdag.c:378-398); a terminal is an empty marker group
    tried first, which matches iff the input ends there (the PDAG's
    terminal-at-EOS acceptance, src/pdag.c:1608-1612)."""

    rules: list  # list[CompiledRule]
    pattern: re.Pattern = None  # type: ignore[assignment]
    by_marker: dict = None  # type: ignore[assignment]  # group index -> ExtractPlan

    def build(self, ctx: "_Ctx" = None, types: dict | None = None):
        if ctx is None:
            ctx = _Ctx(types or {})
        # the ctx is shared across the whole rulebase compile: a preceding
        # WALKER-ONLY rule leaves regexable=False, and _item_fragment then
        # returns "" for custom-type nodes — silently DROPPING them from
        # the master pattern (fuzz-found: a discard-named user type
        # vanished, matching inputs the rule must reject).  Every rule in
        # this cohort already compiled regexable, so reset and re-assert.
        ctx.regexable = True
        root = _TrieNode()
        for cr in self.rules:
            node = root
            for item in _expand_items(cr.rule.seq):
                k = _edge_key(item)
                child = node.children.get(k)
                if child is None:
                    child = _TrieNode(item=item, ins=len(node.children))
                    node.children[k] = child
                node = child
            node.terminals.append(cr)

        path_of: dict = {}  # marker name order -> (rule, specs on its path)
        path_specs: list = []

        def emit(node: _TrieNode) -> str:
            parts = []
            if node.terminals:
                cr = node.terminals[0]  # duplicates coalesce: first wins
                path_of[cr.order] = (cr, list(path_specs))
                parts.append(f"(?P<R{cr.order}>)")
            for child in sorted(node.children.values(), key=lambda c: (_edge_key(c.item)[0], c.ins)):
                # compact single-child unnamed-literal chains (the PDAG's
                # literal path compaction, src/pdag.c:345-375)
                lits = []
                cur = child
                while (
                    _is_plain_lit(cur.item)
                    and not cur.terminals
                    and len(cur.children) == 1
                    and _is_plain_lit(next(iter(cur.children.values())).item)
                ):
                    lits.append(cur.item.params["text"])
                    cur = next(iter(cur.children.values()))
                if _is_plain_lit(cur.item):
                    lits.append(cur.item.params["text"])
                    frag = re.escape("".join(lits))
                    sub = emit(cur)
                else:
                    mark = len(path_specs)
                    frag = re.escape("".join(lits)) + _item_fragment(
                        cur.item, ctx, path_specs, capture=True
                    )
                    sub = emit(cur)
                    del path_specs[mark:]
                parts.append(frag + sub)
            if not parts:
                return ""
            if len(parts) == 1:
                return parts[0]
            return "(?:" + "|".join(parts) + ")"

        pattern_src = emit(root)
        if not ctx.regexable:
            raise AssertionError(
                "cohort fragment rebuild turned non-regexable for rules "
                f"{[cr.rule_id for cr in self.rules]} — inconsistent with "
                "their per-rule compilation"
            )
        self.pattern = re.compile(pattern_src)
        self.by_marker = {
            self.pattern.groupindex[f"R{order}"]: ExtractPlan.build(cr, specs, self.pattern)
            for order, (cr, specs) in path_of.items()
        }
        return self

    def plan_for(self, m: re.Match):
        # the rule's marker group closes last -> lastindex IS the marker
        plan = self.by_marker.get(m.lastindex)
        if plan is not None:
            return plan
        for gi, plan in self.by_marker.items():  # safety net
            if m.group(gi) is not None:
                return plan
        return None


# ------------------------------------------------------------ rule ordering


def _token_stream(rule: Rule):
    """Rule -> tokens for trie ordering: literals expand per-char
    (src/samp.c:320-325: one PDAG node per literal char)."""
    out = []
    for item in rule.seq:
        if isinstance(item, Alt):
            ident = _json.dumps(
                [[_node_ident(n) for n in s if isinstance(n, PNode)] for s in item.alts],
                sort_keys=True,
            )
            out.append((item.prio, "alt:" + ident))
        elif item.ptype == "literal" and item.name is None:
            for ch in item.params["text"]:
                out.append((item.prio, "lit:" + ch))
        else:
            out.append((item.prio, _node_ident(item)))
    return out


def _node_ident(n: PNode) -> str:
    params = {k: v for k, v in n.params.items() if k not in ("parser_seq", "while_seq")}
    return n.ptype + ":" + str(n.name) + ":" + _json.dumps(params, sort_keys=True, default=str)


def order_rules(rules: list[Rule]) -> list[int]:
    """Return rule_ids in PDAG first-match order: DFS over the shared-prefix
    trie with children sorted by (combined priority, insertion order)."""
    root: dict = {"children": {}, "rules": []}
    for idx, rule in enumerate(rules):
        node = root
        for tok in _token_stream(rule):
            key = tok
            if key not in node["children"]:
                node["children"][key] = {"children": {}, "rules": [], "ins": len(node["children"])}
            node = node["children"][key]
        node["rules"].append(idx)
    # Preorder: a terminal rule at a node is emitted before longer rules
    # through that node.  The reference accepts a terminal only at EOS
    # (src/pdag.c:1608-1612) and that acceptance overrides any child match
    # ending at the same EOS, so the shorter rule's identity wins there;
    # fullmatch-anchored regexes make the two mutually exclusive otherwise.
    order: list[int] = []

    def dfs(node):
        order.extend(node["rules"])
        for _key, child in sorted(
            node["children"].items(), key=lambda kv: (kv[0][0], kv[1]["ins"])
        ):
            dfs(child)

    dfs(root)
    return order


@dataclass
class CompiledRulebase:
    rules: list[CompiledRule]  # in match order
    types: dict
    annotations: dict
    errors: list[str] = field(default_factory=list)
    cohorts: list = field(default_factory=list)  # MatchCohort | CompiledRule
    version: int = 2  # rulebase engine version (1 = no version=2 header)

    @property
    def ordered_rules(self):
        return [cr.rule for cr in self.rules]


def compile_rulebase(rb: Rulebase) -> CompiledRulebase:
    order = order_rules(rb.rules)
    compiled = []
    ctx = _Ctx(rb.types)
    for pos, idx in enumerate(order):
        cr = compile_rule(rb.rules[idx], rb.types, ctx)
        cr.order = pos
        cr.finish(rb.annotations)
        compiled.append(cr)
    # CPython allocates a span slot for EVERY group in a pattern on each
    # successful match, so one giant trie would make match cost O(total
    # rules).  Chunking runs into <=MAX_COHORT_RULES keeps the allocation
    # bounded; a failed chunk attempt is cheap (no Match object), so the
    # sequential chunk scan costs ~0.5us per miss.
    MAX_COHORT_RULES = 64
    cohorts: list = []
    run: list[CompiledRule] = []

    def flush_run():
        nonlocal run
        for i in range(0, len(run), MAX_COHORT_RULES):
            chunk = run[i : i + MAX_COHORT_RULES]
            cohorts.append(MatchCohort(rules=chunk).build(ctx, rb.types))
        run = []

    for cr in compiled:
        if cr.pattern is not None:
            run.append(cr)
        else:
            flush_run()
            cohorts.append(cr)  # walker-only rule
    flush_run()
    return CompiledRulebase(
        rules=compiled,
        types=rb.types,
        annotations=rb.annotations,
        errors=list(rb.errors),
        cohorts=cohorts,
        version=getattr(rb, "version", 2),
    )
