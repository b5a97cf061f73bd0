"""Snapshot-wide rule liveness over the committed metadata JSON.

A disambiguation rule can only fire for a language that is a candidate of
its group's extensions: the kernel gates rules to candidates, and a
child language counts through its ``group`` parent (and a parent through
its children). A rule naming a language that is missing from the
snapshot, or that claims none of the group's extensions, is dead. See
``linguistjs_spark/data/PROVENANCE.md`` for where the rules come from.

No Spark session needed: pure set algebra over the JSON.
"""

import json
import os

_DATA = os.path.join(
    os.path.dirname(__file__), "..", "linguistjs_spark", "data"
)


def test_every_rule_language_is_a_group_candidate():
    with open(os.path.join(_DATA, "languages.json")) as f:
        langs = json.load(f)["languages"]
    with open(os.path.join(_DATA, "heuristics.json")) as f:
        groups = json.load(f)["disambiguations"]
    claimants = {}
    for name, meta in langs.items():
        for e in meta.get("extensions", []):
            claimants.setdefault(e.lower(), set()).add(name)

    dead = []
    for g in groups:
        raw = set().union(*(claimants.get(e, set()) for e in g["extensions"]))
        cands = raw | {langs[c]["group"] for c in raw if "group" in langs[c]}
        for rule in g["rules"]:
            lang = rule["language"]
            if lang not in langs or (
                lang not in cands and langs[lang].get("group") not in cands
            ):
                dead.append((g["extensions"][0], lang))
    assert len(groups) >= 119
    assert dead == []
