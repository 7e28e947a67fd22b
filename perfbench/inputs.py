"""Open-vocabulary benchmark inputs: a generated gazetteer of thousands
of multi-token surfaces in small near-duplicate families, plus
transcripts whose entity turns each name two of those surfaces.
Properties that hold by construction (and that ``tests/test_inputs.py``
pins):

- every surface is two or three letter-only tokens; the two base tokens
  are ``TOKEN_LEN`` letters long and unique to their family, so no
  surface of one family is a substring of a surface of another family,
  and no base token occurs anywhere in the template or filler text;
- a family is ``Base`` plus one or (every other family) two suffixed
  variants (``Base Corp``, ``Base Labs``), so the gazetteer size does
  not depend on the seed.  Within a family every variant shares
  all of ``Base``'s character 3-shingles, Jaccard >= 0.6 to ``Base``;
- across families, surfaces share at most ``MAX_SHARED`` shingles outside
  the suffix words, and suffix shingles never occur in base tokens, so
  cross-family Jaccard stays below 0.2 — far under the linking
  threshold.  The expected canonical groups are therefore exactly the
  families of the surfaces that occur.

Everything is a pure function of the seed and the size arguments; no
Spark partitioning is involved in generation.
"""

from __future__ import annotations

import random
from collections import Counter
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

import pandas as pd

TOKEN_LEN = 7
SUFFIXES = ("Corp", "Labs")
MAX_SHARED = 2
ENTITY_TYPES = ("Person", "Organization", "Tool", "Project Code", "Location")
COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

TEMPLATES = (
    "{E0}: please review the deployment for {E1}.",
    "{E0}, {E1}, and others joined the call.",
    "status update - {E0}; owner is {E1}.",
    "ticket filed by {E0}. assigned to: {E1}.",
    "{E0} works at {E1} since last spring.",
    "notes: {E0}.  follow-up with {E1}.  done.",
    "meeting in {E0}; remote dial-in from {E1}.",
)
FILLERS = (
    "ok sounds good. will do.",
    "let me check the logs first.",
    "no blockers today",
    "the quarterly numbers look fine.  revenue up.",
    "rebooting the staging box now",
)
_ROLES = ("user", "assistant", "system", "tool")
_TOOLS = ("search", "python", "browser", "calculator")
_BASE_TS = datetime(2025, 1, 1, tzinfo=timezone.utc)
_LETTERS = "abcdefghijklmnopqrstuvwxyz"


def shingles(text: str, k: int = 3) -> set[str]:
    """Lower-cased character k-shingles (the linking layer's definition)."""
    s = text.lower()
    if len(s) <= k:
        return {s}
    return {s[i : i + k] for i in range(len(s) - k + 1)}


def _suffix_shingles() -> set[str]:
    out: set[str] = set()
    for suf in SUFFIXES:
        out |= shingles(" " + suf)
    return out


@dataclass(frozen=True)
class OpenVocab:
    gazetteer: tuple[tuple[str, str], ...]
    # lower-cased surface -> family index (the ground-truth canonical group)
    family: dict[str, int]


def open_vocab_gazetteer(seed: int, n_families: int) -> OpenVocab:
    """Deterministic near-duplicate-family gazetteer (see module doc)."""
    rng = random.Random(f"gazetteer:{seed}")
    corpus = " ".join(TEMPLATES + FILLERS).lower()
    suffix_sh = _suffix_shingles()
    used: set[str] = set()
    index: dict[str, list[int]] = {}
    gazetteer: list[tuple[str, str]] = []
    family: dict[str, int] = {}

    def token() -> str:
        while True:
            t = "".join(rng.choice(_LETTERS) for _ in range(TOKEN_LEN))
            # a base token may not contain a suffix shingle (" co" and " la"
            # would need a leading space, which a token never has), may not
            # repeat, and may not occur in the surrounding text
            if t in used or t in corpus or any(s in t for s in suffix_sh):
                continue
            return t

    for f in range(n_families):
        while True:
            a, b = token(), token()
            base = f"{a} {b}"
            variants = [base] + [f"{base} {s.lower()}" for s in SUFFIXES[: 1 + f % len(SUFFIXES)]]
            own = set().union(*(shingles(v) for v in variants)) - suffix_sh
            shared = Counter(g for sh in own for g in index.get(sh, ()))
            if not shared or max(shared.values()) <= MAX_SHARED:
                break
        used.update((a, b))
        for sh in own:
            index.setdefault(sh, []).append(f)
        etype = ENTITY_TYPES[rng.randrange(len(ENTITY_TYPES))]
        for v in variants:
            gazetteer.append((v.title(), etype))
            family[v] = f
    return OpenVocab(tuple(gazetteer), family)


def _conv_lengths(n_convs: int, mean_turns: int) -> list[int]:
    """Zipf-ish conversation lengths, capped.  No jitter, so every seed
    gives the same number of turns and only the content varies."""
    return [
        min(max(1, int(mean_turns * (n_convs / rank) ** (1 / 1.3) / 2.0)), mean_turns * 8)
        for rank in range(1, n_convs + 1)
    ]


def open_vocab_transcripts(vocab: OpenVocab, seed: int, n_convs: int, mean_turns: int = 12) -> pd.DataFrame:
    """Transcript rows over ``vocab``.  Three turns in four are entity
    turns; each names the next two surfaces of one seeded permutation of
    the gazetteer, so every surface occurs once the entity turns
    outnumber half the gazetteer.  The rest are fillers.  Rows come out
    in a shuffled order."""
    rng = random.Random(f"transcripts:{seed}")
    surfaces = [s for s, _ in vocab.gazetteer]
    perm = list(range(len(surfaces)))
    rng.shuffle(perm)
    slot = turn = 0
    rows = []
    for ci, n_turns in enumerate(_conv_lengths(n_convs, mean_turns)):
        conv_id = f"ov-{ci:06d}"
        for ti in range(n_turns):
            role = _ROLES[(ci + ti) % len(_ROLES)]
            if turn % 4 != 3:
                e0 = surfaces[perm[slot % len(perm)]]
                e1 = surfaces[perm[(slot + 1) % len(perm)]]
                slot += 2
                if rng.random() < 0.3:
                    e0 = e0.upper()
                text = rng.choice(TEMPLATES).format(E0=e0, E1=e1)
            else:
                text = rng.choice(FILLERS)
            turn += 1
            rows.append(
                (
                    conv_id,
                    ti,
                    role,
                    text,
                    _TOOLS[ti % len(_TOOLS)] if role == "tool" else None,
                    _BASE_TS + timedelta(hours=ci, seconds=ti),
                )
            )
    rng.shuffle(rows)
    df = pd.DataFrame(rows, columns=COLUMNS)
    df["turn_idx"] = df["turn_idx"].astype("int32")
    return df
