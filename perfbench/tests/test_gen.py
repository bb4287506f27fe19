"""The same seed must give byte-identical inputs."""

import os

from perfbench import gen

SPEC = gen.CorpusSpec(docs=300, vocab=2_000, mean_tokens=40)


def _write_all(root: str, seed: int) -> None:
    ids, texts = gen.corpus(seed, SPEC)
    gen.write_documents(os.path.join(root, "corpus"), ids, texts)
    lc = gen.lifecycle(seed, SPEC, 30)
    gen.write_tsv(os.path.join(root, "delta.tsv"), lc.delta_ids, lc.delta_texts)
    gen.write_tsv(os.path.join(root, "edit.tsv"), lc.edit_ids, lc.edit_texts)
    with open(os.path.join(root, "rest.txt"), "w") as f:
        f.write("\n".join(gen.queries(seed, SPEC, 50)))
        f.write(f"\n{lc.delete_ids}\n")
    gen.write_registry_fixture(os.path.join(root, "sf"), seed, 0.001)


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    _write_all(str(tmp_path / "a"), 7)
    _write_all(str(tmp_path / "b"), 7)
    _write_all(str(tmp_path / "c"), 8)
    a, b, c = (_files(str(tmp_path / x)) for x in "abc")
    assert len(a) == 14 and a == b
    assert sorted(a) == sorted(c)
    assert all(a[k] != c[k] for k in ("corpus/documents.parquet", "delta.tsv", "rest.txt", "sf/lineitem.parquet"))


def test_corpus_stats_and_query_mix(tmp_path):
    ids, texts = gen.corpus(7, SPEC)
    gen.write_documents(str(tmp_path), ids, texts)
    stats = gen.corpus_stats(texts, str(tmp_path / "documents.parquet"))
    assert stats["docs"] == SPEC.docs
    assert SPEC.docs * SPEC.mean_tokens * 0.8 < stats["tokens"] < SPEC.docs * SPEC.mean_tokens * 1.2
    assert 0 < stats["vocabulary"] <= SPEC.vocab and stats["bytes"] > 0
    vocab = set(gen.vocabulary(7, SPEC.vocab))
    qs = gen.queries(7, SPEC, 20)
    unseen = [q for q in qs if not set(q.split()) & vocab]
    assert len(unseen) == 2 and all(1 <= len(q.split()) <= 4 for q in qs)
