"""Sole-rule prefix-fold equivalence (round 5, runtime/matcher.py).

The fold routes rows whose dispatch prefix PROVES a single candidate rule
to that rule's own pattern, skipping the cohort alternation.  These tests
pin that fold-on output is byte-identical to fold-off on the shapes that
could break it: shared literal prefixes (no sole rule -> no fold), rules
whose prefilter extends the dispatch window, walker-only rules, complex
(validated) fields, annotations, near-miss rows (definitive fold miss ->
unmatched diagnostics), and decoration options.
"""

import pandas as pd
import pytest

from liblognorm_spark.compiler.compiler import compile_rulebase
from liblognorm_spark.rulebase.loader import Rulebase
from liblognorm_spark.runtime import matcher as M


def _run_both(rb_text: str, texts: list, **opts):
    """match_batch with fold disabled vs enabled on fresh rulebases."""
    s = pd.Series(texts, dtype=object)
    crb_off = compile_rulebase(Rulebase.from_string(rb_text))
    crb_on = compile_rulebase(Rulebase.from_string(rb_text))
    orig = M._fold_entry
    try:
        M._fold_entry = lambda crb, u: None
        off = M.match_batch(crb_off, s, **opts)
    finally:
        M._fold_entry = orig
    on = M.match_batch(crb_on, s, **opts)
    return off, on, crb_on


# every batch folds; the generated filler rules/rows give each fixture many
# distinct sole-rule prefixes, so the fold fires beside the shape under test
def _pad_rules(n=80):
    return "\n".join(
        f"rule=f{i}:filler{i}: %v:number%" for i in range(n))


def _pad_rows(n=80):
    return [f"filler{i}: {i}" for i in range(n)]


def test_fold_applies_and_matches_disabled_path():
    rb = "version=2\n" + _pad_rules() + "\n"
    off, on, crb = _run_both(rb, _pad_rows() + ["fillerX: nope", "junk"])
    assert off.equals(on)
    memo = crb._dispatch_memo_cache
    assert any(v[1] is not None for v in memo.values()), "no fold fired"


def test_shared_prefix_rules_never_fold():
    # two rules share the full dispatch window -> no prefix proves a sole
    # candidate -> fold must not fire, outputs identical
    rb = ("version=2\n"
          "rule=a:sshd[%pid:number%]: accepted %u:word%\n"
          "rule=b:sshd[%pid:number%]: failed %u:word%\n" + _pad_rules() + "\n")
    texts = ["sshd[1]: accepted root", "sshd[2]: failed eve"] + _pad_rows()
    off, on, crb = _run_both(rb, texts)
    assert off.equals(on)
    folded_sshd = [u for u, v in crb._dispatch_memo_cache.items()
                   if u.startswith("sshd") and v[1] is not None]
    assert not folded_sshd


def test_wildcard_rule_disables_fold_globally():
    rb = ("version=2\n"
          "rule=w:%all:rest%\n" + _pad_rules() + "\n")
    off, on, crb = _run_both(rb, _pad_rows() + ["anything at all"])
    assert off.equals(on)
    assert all(v[1] is None for v in crb._dispatch_memo_cache.values())


def test_walker_only_sole_rule_not_folded():
    # regex-inexpressible rule (repeat with permitMismatch stays
    # walker-only): sole-by-prefix but pattern is None -> no fold entry
    rb = ("version=2\n"
          "rule=r:wonly %n{\"parser\":{\"name\":\"x\",\"type\":\"number\"},"
          "\"while\":{\"type\":\"literal\",\"text\":\":\"},"
          "\"option.permitMismatchInParser\":true}:repeat%\n"
          + _pad_rules() + "\n")
    off, on, _ = _run_both(rb, ["wonly 1:2:3"] + _pad_rows())
    assert off.equals(on)


def test_complex_fields_and_annotations_fold_identically():
    # maxval forces the complex-extract path; annotate exercises
    # extra_fields; a failing maxval row exercises Reject -> walker
    rb = ("version=2\n"
          "rule=t,h:cplx[%pid:number{\"maxval\":100}%] %ip:ipv4%\n"
          "annotate=t:+sev=\"hi\"\n" + _pad_rules() + "\n")
    texts = ["cplx[42] 10.0.0.1", "cplx[999] 10.0.0.1",
             "cplx[7] 10.0.0.999"] + _pad_rows()
    off, on, _ = _run_both(rb, texts)
    assert off.equals(on)


def test_decorated_output_fold_identically():
    rb = "version=2\n" + _pad_rules() + "\n"
    off, on, _ = _run_both(rb, _pad_rows() + ["junk"],
                           add_originalmsg=True, add_rule_location=True,
                           add_rule_mockup=True)
    assert off.equals(on)


def test_prefilter_longer_than_dispatch_window():
    # rule literal extends past _DISPATCH_MAX_DEPTH: the index's subtree
    # count must count it compatible; a second long-literal sibling kills
    # the fold
    long_a = "L" * (M._DISPATCH_MAX_DEPTH + 4) + "A"
    long_b = "L" * (M._DISPATCH_MAX_DEPTH + 4) + "B"
    rb = ("version=2\n"
          f"rule=la:{long_a} %v:number%\n"
          f"rule=lb:{long_b} %v:number%\n" + _pad_rules() + "\n")
    texts = [f"{long_a} 1", f"{long_b} 2"] + _pad_rows()
    off, on, crb = _run_both(rb, texts)
    assert off.equals(on)
    folded_long = [u for u, v in crb._dispatch_memo_cache.items()
                   if u.startswith("L") and v[1] is not None]
    assert not folded_long  # shared window prefix -> ambiguous -> no fold


def test_routed_path_equals_walker():
    # the Spark traffic shape: a many-rule syslog rulebase and a batch with
    # more distinct prefixes than one cohort holds, so rows take the
    # vectorized routing, the sole-rule fold (with a Reject), the cohort
    # fullmatch and the walker stages; every row must agree with the exact
    # walker
    import json
    import random

    from liblognorm_spark.runtime.walker import normalize_message

    tags = ("auth", "cron", "daemon", "kern", "mail", "user")
    rb = ("version=2\n"
          + "".join(f"rule={tags[i % 6]},p{i}:prog{i}[%pid:number%]: "
                    "action %act:word% from %ip:ipv4%\n" for i in range(128))
          + "annotate=auth:+sev=\"hi\"\n"
          "rule=auth:sshd[%pid:number%]: accepted %u:word%\n"
          "rule=auth:sshd[%pid:number%]: failed %u:word%\n"
          "rule=cap:cap[%pid:number{\"maxval\":100}%] from %ip:ipv4%\n"
          "rule=r:wonly %n{\"parser\":{\"name\":\"x\",\"type\":\"number\"},"
          "\"while\":{\"type\":\"literal\",\"text\":\":\"},"
          "\"option.permitMismatchInParser\":true}:repeat%\n")
    rng = random.Random(5)
    texts, misses, rejects = [], 0, 0
    for j in range(2000):
        head = f"prog{rng.randrange(128)}[{rng.randrange(1000, 1004)}]: action go from "
        if rng.random() < 0.2:  # near-miss: the rule's prefix, invalid IPv4
            texts.append(head + f"10.0.{j % 250}.{256 + j}")
            misses += 1
        else:
            texts.append(head + f"10.0.{j % 250}.{j % 200}")
    for pid in (7, 700, 8, 800):  # maxval 100: 700/800 validate -> Reject
        texts.append(f"cap[{pid}] from 10.1.1.1")
        rejects += pid > 100
    for j in range(40):  # shared prefix: no sole rule, cohort fullmatch
        texts.append(f"sshd[{j}]: {('accepted', 'failed')[j % 2]} u{j}")
    texts += ["wonly 4", "wonly 12"]
    assert len({t[:M._DISPATCH_MAX_DEPTH] for t in texts}) > 64

    crb = compile_rulebase(Rulebase.from_string(rb))
    s = pd.Series(texts, dtype=object)
    first = M.match_batch(crb, s)
    assert any(v[1] is not None for v in crb._dispatch_memo_cache.values())
    for i, t in enumerate(texts):
        rule, ev, _ = normalize_message(crb.ordered_rules, t, crb.types,
                                        crb.annotations)
        fr, wr = int(first["rule_id"][i]), (rule.rule_id if rule else -1)
        assert fr == wr, f"{t!r} fast={fr} walker={wr}"
        if wr >= 0:
            assert json.loads(first["fields_json"][i]) == ev, t
    # every planted near-miss and Reject row ends unparsed, nothing else
    assert int(first["unparsed_data"].notna().sum()) == misses + rejects
    pd.testing.assert_frame_equal(first, M.match_batch(crb, s))
