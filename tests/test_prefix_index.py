"""The matcher's prefix index (runtime/matcher.py ``_PrefixIndex``) against
brute force.

Every answer the index gives — the walker fallback's candidates and
parsedTo credit, the cohort positions (trie cohorts and walker-only
rules) a prefix is routed to, and the sole-rule fold —
is checked against its string-level definition over the rules' leading
literals, on every corpus rulebase plus fixtures with shared, long,
walker-only, near-prefix and named leading literals, each with and
without a rule that has no leading literal.  Inputs are the corpus steps,
literal prefixes and random truncations and mutations of both.
"""

import json
import os
import random

import pytest

from liblognorm_spark.compiler.compiler import MatchCohort, compile_rulebase
from liblognorm_spark.rulebase.loader import PNode, Rulebase
from liblognorm_spark.runtime import matcher as M

CORPUS_PATH = os.path.join(os.path.dirname(__file__), "corpus", "cases.json")
with open(CORPUS_PATH) as f:
    _CORPUS = json.load(f)["cases"]

_SYSLOG = "version=2\n" + "".join(
    f"rule=t{i % 6}:prog{i}[%pid:number%]: action %act:word% from %ip:ipv4%\n"
    for i in range(128))
_MIXED = (
    "version=2\n"
    "rule=a:sshd[%pid:number%]: accepted %u:word%\n"
    "rule=b:sshd[%pid:number%]: failed %u:word%\n"
    f"rule=la:{'L' * 20}A %v:number%\n"
    f"rule=lb:{'L' * 20}B %v:number%\n"
    "rule=n:near %v:number%\n"
    "rule=n:nearer %v:number%\n"
    "rule=n:nearest\n"
    "rule=w:wonly %n{\"parser\":{\"name\":\"x\",\"type\":\"number\"},"
    "\"while\":{\"type\":\"literal\",\"text\":\":\"},"
    "\"option.permitMismatchInParser\":true}:repeat%\n"
    "rule=j:js %j:json%\n"
    + "".join(f"rule=f:filler{i}: %v:number%\n" for i in range(70)))
# a named leading literal captures a field: it counts as no literal
_NAMED = ("version=2\n"
          "rule=nm:%{\"type\":\"literal\", \"text\":\"named\", \"name\":\"v\"}% %x:number%\n"
          "rule=u:unnamed %x:number%\n")
_NO_LITERAL = "rule=z:%all:rest%\n"


def _rulebases():
    for script, cases in sorted(_CORPUS.items()):
        for ci, case in enumerate(cases):
            if case.get("aux") or case.get("aux_env"):
                continue  # needs files next to the rulebase
            yield (f"{script}[{ci}]", case["rulebase"],
                   frozenset(case.get("opts", ())),
                   [step["input"] for step in case["steps"]])
    syslog_texts = [f"prog{i}[{i}]: action go from 10.0.0.{i}" for i in range(0, 128, 7)]
    yield "syslog128", _SYSLOG, frozenset(), syslog_texts
    mixed_texts = ["sshd[1]: accepted root", "L" * 20 + "A 5", "L" * 20 + "B 6",
                   "near 1", "nearer 2", "nearest", "wonly 1:2", 'js {"a":1}',
                   "filler3: 3", "junk"]
    yield "mixed", _MIXED, frozenset(), mixed_texts
    yield "named", _NAMED, frozenset(), ["named 1", "unnamed 2", "nam"]
    for name, text in (("mixed", _MIXED), ("named", _NAMED), ("syslog128", _SYSLOG)):
        yield name + "+no-literal", text + _NO_LITERAL, frozenset(), mixed_texts + syslog_texts


def _literal(rule) -> str:
    first = rule.seq[0] if rule.seq else None
    if isinstance(first, PNode) and first.ptype == "literal" and first.name is None:
        return first.params.get("text", "")
    return ""


def _inputs(rules, texts, rng):
    seeds = list(texts) + [_literal(r) for r in rules]
    out = set(seeds)
    alphabet = "".join(sorted({ch for s in seeds for ch in s})) or "a"
    for s in seeds:
        for _ in range(4):
            cut = s[:rng.randrange(len(s) + 1)]
            noise = "".join(rng.choice(alphabet) for _ in range(rng.randrange(4)))
            out.add(cut)
            out.add(cut + noise)
            out.add(s + noise)
    return sorted(out)


def _common(a: str, b: str) -> int:
    n = 0
    while n < min(len(a), len(b)) and a[n] == b[n]:
        n += 1
    return n


_CASES = list(_rulebases())


@pytest.mark.parametrize("name,text,opts,texts", _CASES, ids=[c[0] for c in _CASES])
def test_index_matches_brute_force(name, text, opts, texts):
    crb = compile_rulebase(Rulebase.from_string(text, opts=opts))
    index = M._prefix_index(crb)
    rules = crb.ordered_rules
    lits = [_literal(r) for r in rules]
    window = M._DISPATCH_MAX_DEPTH
    lacking = any(not lit for lit in lits)
    routable = {ci: [_literal(cr.rule)[:window]
                     for cr in (c.rules if isinstance(c, MatchCohort) else [c])]
                for ci, c in enumerate(crb.cohorts)}
    wild = {ci for ci, heads in routable.items() if not all(heads)}
    assert index.wild_cohorts == wild
    for rule, lit in zip(rules, lits):
        assert rule.leading_literal == lit
    for t in _inputs(rules, texts, random.Random(name)):
        cands, depth = index.candidates(t)
        assert cands == [r for r, lit in zip(rules, lits) if not lit or t.startswith(lit)], t
        assert depth == max([_common(t, lit) for lit in lits if lit], default=0), t
        u = t[:window]
        assert index.dispatch(u) == {ci for ci, heads in routable.items()
                                     if ci not in wild and any(u.startswith(h) for h in heads)}, t
        compat = [r for r, lit in zip(rules, lits) if lit and (u.startswith(lit) or lit.startswith(u))]
        sole = compat[0] if len(compat) == 1 and not lacking else None
        got = index.sole(u)
        assert (got.rule if got else None) is sole, t
        plan = M._fold_entry(crb, u)
        assert (plan.rule if plan else None) is (sole if got and got.pattern else None), t


def test_named_leading_literal_counts_as_none():
    crb = compile_rulebase(Rulebase.from_string(_NAMED))
    index = M._prefix_index(crb)
    named = next(r for r in crb.ordered_rules if r.leading_literal == "")
    assert index.always == [named]
    # the unnamed rule is the only one with a literal, yet the named rule
    # can match anything, so no prefix proves a sole rule
    assert index.sole("unnamed 2") is None
    assert index.candidates("named 1")[0] == [named]
