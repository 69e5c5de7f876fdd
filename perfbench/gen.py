"""Seeded transcript generator for the benchmark.

Writes the engine's input table (conv_id, turn_idx, role, text, tool, ts)
with the same turn templates the extractor recognises (round header, model
header, key/value lines, contributor, upload, ``observed target=...`` fact
turns) plus filler chatter, and returns the ground truth the output checks
compare against.

Named input properties (``Spec``):

- ``conversations`` per round and ``rounds``;
- ``near_dup_share`` of conversations that are lightly edited copies of a
  template conversation, in clusters of ``cluster_size`` (template
  included);
- ``misspell_share`` of state surfaces written with a one-letter typo that
  only fuzzy linking resolves;
- ``head_share`` of location mentions that name the head entity "US".

Fixed for every workload: ``TURNS`` per conversation, ``MODELS`` per round
(conversations of one model merge into one doc) and a filler vocabulary of
``VOCAB_SIZE`` words (large, so distinct conversations share few tokens and
near-dups stay rare). Generated rounds follow the ``FIXTURE_ROUNDS`` rounds
of the fixture corpus in ``synth.corpus_spec(n_rounds=...)``, so the config
dims join.

Self-test: ``python3 perfbench/gen.py --self-test`` checks that one seed
always gives the same table digest and that different seeds do not.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import random
import sys
from dataclasses import dataclass
from datetime import datetime, timedelta
from pathlib import Path

import pyarrow as pa

if __name__ == "__main__":  # run as a script from the repo root
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from smh_to_jsonld_spark.functions.dims import fips_rows

FIRST_ROUND = datetime(2031, 1, 5)
ROUND_STEP_DAYS = 28  # synth.corpus_spec spacing
TARGETS = ("inc hosp", "peak inc hosp", "cum hosp")
AGE_GROUPS = ("0-130", "0-17", "18-64", "65-130")
OUTPUT_TYPES = ("quantile", "sample", "cdf")
LICENSES = ("CC-BY-4.0", "MIT", "CC-BY-NC-4.0")
HEAD_FORMS = ("US", "United States", "us")
CONV_PREFIX = "bench-"  # conv_id prefix of every generated conversation
FIXTURE_ROUNDS = 2  # synth.corpus_spec() rounds, before the generated ones
TURNS = 24
MODELS = 16
VOCAB_SIZE = 20_000
FILLER_WORDS_PER_TURN = 40
# filler words replaced in a near-dup copy: two copies of one template then
# share >= 0.84 of their distinct tokens, clear of the engine's 0.8 near-dup
# threshold (0.03 let pairs come within 0.02 of it)
COPY_EDIT_SHARE = 0.02
SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)


@dataclass(frozen=True)
class Spec:
    conversations: int = 100
    rounds: int = 2
    near_dup_share: float = 0.02
    cluster_size: int = 2
    misspell_share: float = 0.1
    head_share: float = 0.6


def round_id(index: int) -> str:
    return (FIRST_ROUND + timedelta(days=ROUND_STEP_DAYS * index)).strftime("%Y-%m-%d")


def _vocabulary(size: int, rng: random.Random) -> list:
    """Lowercase pseudo-words: never a state name (capitalised), a concept
    term or a date, so filler adds scan work but no mentions."""
    syl = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]
    words: set = set()
    while len(words) < size:
        words.add("".join(rng.choice(syl) for _ in range(rng.randint(2, 4))))
    return sorted(words)


def _trigrams(s: str) -> set:
    p = "  " + s + "  "
    return {p[i : i + 3] for i in range(len(p) - 2)}


def _fuzzy_top1(surface: str, aliases: list) -> str | None:
    """Canonical the engine's prefix-blocked trigram-Jaccard pass picks
    (block = first two letters, score >= 0.5, ties by alias)."""
    g = _trigrams(surface)
    best = None
    for alias, canon in aliases:
        if alias[:2] != surface[:2]:
            continue
        a = _trigrams(alias)
        score = len(g & a) / len(g | a)
        if score >= 0.5 and (best is None or (-score, alias) < best[0]):
            best = ((-score, alias), canon)
    return best[1] if best else None


def _typos(states: list, rng: random.Random) -> dict:
    """fips -> misspellings of the state name that resolve back to it."""
    alias_of: dict = {}
    for fips, abbr, name in fips_rows():
        for a in (name.lower(), abbr.lower(), fips.lower()):
            alias_of.setdefault(a, fips)
    aliases, exact = list(alias_of.items()), set(alias_of)
    letters = "abcdefghijklmnopqrstuvwxyz"
    out = {}
    for fips, _, name in states:
        base = name.lower()
        forms = []
        for _ in range(40):
            i = rng.randrange(2, len(base))
            if rng.random() < 0.5:
                typo = base[:i] + rng.choice(letters) + base[i + 1 :]
            else:
                typo = base[:i] + base[i + 1 :]
            if typo not in exact and _fuzzy_top1(typo, aliases) == fips:
                forms.append(typo.capitalize())
            if len(forms) == 3:
                break
        if forms:
            out[fips] = sorted(set(forms))
    return out


def _location(rng, spec, states, typos):
    """(surface, canonical fips) for one fact mention."""
    if rng.random() < spec.head_share:
        return rng.choice(HEAD_FORMS), "US"
    fips, abbr, name = rng.choice(states)
    if fips in typos and rng.random() < spec.misspell_share:
        return rng.choice(typos[fips]), fips
    forms = (fips, name, abbr, name + ".", name.upper(), abbr.lower())
    return rng.choice(forms), fips


def _model(j: int) -> dict:
    return {
        "name": f"bench{j % 4}-mdl{j}",
        "team": f"bench{j % 4}",
        "abbr": f"mdl{j}",
        "team_name": f"Bench Team {j % 4}",
        "license": LICENSES[j % len(LICENSES)],
    }


def _conversation(rng, spec, rid, j, vocab, states, typos):
    """One conversation's (role, text, tool) turns + its facts."""
    m = _model(j)
    head = [
        ("system", f"Round {rid} submission session.", None),
        (
            "user",
            f"submitting model {m['name']} version 1.{j} team_abbr [{m['team']}]"
            f" model_abbr [{m['abbr']}] from team [{m['team_name']}].",
            None,
        ),
        ("assistant", f"Registered {m['name']} for round {rid}.", None),
        ("user", f"license: {m['license']}", None),
        ("user", f"website: https://example.org/{m['name']}", None),
        ("user", f"methods: Mechanistic model {j}", None),
        ("user", f"contributor: Contributor {j} Alpha <alpha{j}@example.org> (University {j})", None),
        ("tool", f"uploaded file {rid}-{m['name']}_0.parquet", "upload"),
    ]
    body, facts = [], []
    for k in range(TURNS - len(head) - 1):
        if k % 2 == 0:
            surface, fips = _location(rng, spec, states, typos)
            tgt = rng.choice(TARGETS)
            ot = rng.choice(OUTPUT_TYPES[:2])
            text = (
                f"observed target={tgt}; location={surface};"
                f" age_group={rng.choice(AGE_GROUPS)}; output_type={ot};"
                f" scenario=A-2031-01-01; origin_date={rid};"
                f" horizon={rng.randint(1, 8)}"
            )
            body.append(("tool", text, "validate"))
            facts.append((fips, tgt, ot))
        else:
            words = [rng.choice(vocab) for _ in range(FILLER_WORDS_PER_TURN)]
            body.append(("assistant", " ".join(words), None))
    tail = [("assistant", f"Submission for {m['name']} complete.", None)]
    return head + body + tail, facts


def _edited_copy(rng, turns, vocab):
    """Near-dup copy: the same turns with a few filler words replaced."""
    out = []
    for role, text, tool in turns:
        words = text.split(" ")
        if role == "assistant" and len(words) == FILLER_WORDS_PER_TURN:
            for i in range(len(words)):
                if rng.random() < COPY_EDIT_SHARE:
                    words[i] = rng.choice(vocab)
            text = " ".join(words)
        out.append((role, text, tool))
    return out


def generate(spec: Spec, seed: int) -> tuple:
    """-> (arrow table, truth). truth = {
    "docs": {(round_id, model_name): {"locations", "targets", "output_types"}},
    "clusters": [[conv_id, ...], ...]  (generated near-dup clusters, >= 2)}"""
    rng = random.Random(seed)
    vocab = _vocabulary(VOCAB_SIZE, rng)
    states = [r for r in fips_rows() if r[0] != "US"]
    typos = _typos(states, rng)
    cols = {f.name: [] for f in SCHEMA}
    docs: dict = {}
    clusters = []
    for r in range(spec.rounds):
        rid = round_id(FIXTURE_ROUNDS + r)
        rdate = datetime.strptime(rid, "%Y-%m-%d")
        convs = []  # (turns, facts, model)
        n_dup = round(spec.conversations * spec.near_dup_share)
        while len(convs) < spec.conversations:
            j = rng.randrange(MODELS)
            turns, facts = _conversation(rng, spec, rid, j, vocab, states, typos)
            size = min(spec.cluster_size, n_dup, spec.conversations - len(convs))
            size = size if size >= 2 else 1
            members = []
            for k in range(size):
                members.append(f"{CONV_PREFIX}{rid}-{len(convs):06d}")
                copy = turns if k == 0 else _edited_copy(rng, turns, vocab)
                convs.append((copy, facts, j))
            if size > 1:
                n_dup -= size
                clusters.append(members)
        for ci, (turns, facts, j) in enumerate(convs):
            conv_id = f"{CONV_PREFIX}{rid}-{ci:06d}"
            for ti, (role, text, tool) in enumerate(turns):
                cols["conv_id"].append(conv_id)
                cols["turn_idx"].append(ti)
                cols["role"].append(role)
                cols["text"].append(text)
                cols["tool"].append(tool)
                cols["ts"].append(rdate + timedelta(seconds=ci * 3600 + ti))
            truth = docs.setdefault(
                (rid, _model(j)["name"]),
                {"locations": set(), "targets": set(), "output_types": set()},
            )
            for fips, tgt, ot in facts:
                truth["locations"].add(fips)
                truth["targets"].add(tgt)
                truth["output_types"].add(ot)
    table = pa.table(cols, schema=SCHEMA)
    return table, {"docs": docs, "clusters": clusters}


def digest(table: pa.Table) -> str:
    h = hashlib.sha256()
    for name in table.column_names:
        h.update(name.encode())
        h.update(json.dumps(table.column(name).to_pylist(), default=str).encode())
    return h.hexdigest()


def self_test(seed: int = 1) -> list:
    """Failures (empty = pass): same seed => same digest; different seeds
    => different digests."""
    spec = Spec(conversations=40, near_dup_share=0.25, cluster_size=4,
                misspell_share=0.5)
    a, b, c = (digest(generate(spec, s)[0]) for s in (seed, seed, seed + 1))
    failures = []
    if a != b:
        failures.append(f"seed {seed} gave two different digests")
    if a == c:
        failures.append(f"seeds {seed} and {seed + 1} gave the same digest")
    return failures


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--self-test", action="store_true", required=True)
    p.add_argument("--seed", type=int, default=1)
    args = p.parse_args()
    failures = self_test(args.seed)
    print(json.dumps({"self_test": "fail" if failures else "pass",
                      "failures": failures}))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
