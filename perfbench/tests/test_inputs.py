"""Open-vocabulary generator: determinism and the properties the
benchmark's canonical-group check relies on."""

from itertools import combinations

from perfbench.inputs import (
    FILLERS,
    MAX_SHARED,
    SUFFIXES,
    TEMPLATES,
    open_vocab_gazetteer,
    open_vocab_transcripts,
    shingles,
)
from perfbench.workloads import split_conversations

JACCARD_THRESHOLD = 0.45  # docs2kg_spark.config.PipelineConfig default


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def test_same_seed_same_inputs_other_seed_other_inputs():
    a = open_vocab_gazetteer(5, 200)
    assert a == open_vocab_gazetteer(5, 200)
    assert a.gazetteer != open_vocab_gazetteer(6, 200).gazetteer
    ta = open_vocab_transcripts(a, 5, 30)
    assert ta.equals(open_vocab_transcripts(a, 5, 30))
    assert not ta.equals(open_vocab_transcripts(a, 6, 30))


def test_surfaces_are_multi_token_and_never_inside_filler_text():
    vocab = open_vocab_gazetteer(1, 300)
    corpus = " ".join(TEMPLATES + FILLERS).lower()
    surfaces = [s.lower() for s, _ in vocab.gazetteer]
    assert len(set(surfaces)) == len(surfaces)
    for s in surfaces:
        assert len(s.split()) >= 2
        assert all(tok not in corpus for tok in s.split()[:2])


def test_no_surface_is_a_substring_of_another_family():
    vocab = open_vocab_gazetteer(2, 300)
    surfaces = [s.lower() for s, _ in vocab.gazetteer]
    for a in surfaces:
        for b in surfaces:
            if vocab.family[a] != vocab.family[b]:
                assert a not in b


def test_families_are_linked_inside_and_far_apart_across():
    vocab = open_vocab_gazetteer(3, 300)
    by_family: dict[int, list[str]] = {}
    for s, f in vocab.family.items():
        by_family.setdefault(f, []).append(s)
    assert len(by_family) == 300
    for members in by_family.values():
        assert 2 <= len(members) <= 1 + len(SUFFIXES)
        base = min(members, key=len)
        assert all(jaccard(base, m) >= JACCARD_THRESHOLD for m in members)
    worst = max(
        jaccard(a, b) for a, b in combinations(sorted(vocab.family), 2) if vocab.family[a] != vocab.family[b]
    )
    assert worst < 0.2
    assert MAX_SHARED <= 2


def test_entity_turns_cover_the_gazetteer():
    vocab = open_vocab_gazetteer(4, 100)
    text = " ".join(open_vocab_transcripts(vocab, 4, 60)["text"]).lower()
    assert all(s.lower() in text for s, _ in vocab.gazetteer)


def test_micro_batches_are_conversation_complete_and_balanced():
    sizes = {f"c{i}": n for i, n in enumerate([40, 30, 20, 10, 10, 5, 5, 1])}
    batches = split_conversations(sizes, 3)
    assert sorted(c for b in batches for c in b) == sorted(sizes)
    loads = [sum(sizes[c] for c in b) for b in batches]
    assert max(loads) - min(loads) <= max(sizes.values())
    assert batches == split_conversations(dict(reversed(list(sizes.items()))), 3)
