import os

import pyarrow.parquet as pq

from perfbench import gen

SPEC = gen.Spec(n_turns=600, words=(4, 16), hot_share=0.4, turns_per_conv=6, n_files=3)


def test_same_seed_gives_identical_rows():
    assert gen.generate(SPEC, 11).equals(gen.generate(SPEC, 11))


def test_seeds_give_different_rows():
    tables = [gen.generate(SPEC, s) for s in (1, 2, 3)]
    texts = [t.column("text").to_pylist() for t in tables]
    assert texts[0] != texts[1] != texts[2] != texts[0]


def test_schema_and_shape():
    t = gen.generate(SPEC, 5)
    assert t.schema == gen.SCHEMA
    assert t.num_rows == SPEC.n_turns
    rows = t.to_pylist()
    # turn_idx is a contiguous 0-based sequence within every conversation
    by_conv = {}
    for r in rows:
        by_conv.setdefault(r["conv_id"], []).append(r["turn_idx"])
    for idx in by_conv.values():
        assert sorted(idx) == list(range(len(idx)))
    hot = sum(1 for r in rows if r["conv_id"].startswith("conv-hot-"))
    assert 0.3 * len(rows) < hot < 0.5 * len(rows)
    # the template mix the grok patterns expect
    texts = [r["text"] for r in rows]
    assert any(x.startswith("level=ERROR sig=") for x in texts)
    assert any(x.startswith("level=WARN ") for x in texts)
    assert any(x.startswith("<tool:") for x in texts)
    assert any("src: /10.10." in x and "bytes: " in x for x in texts)
    # tool is set exactly on tool turns
    assert all((r["tool"] is not None) == (r["role"] == "tool") for r in rows)
    assert all(r["role"] == "system" for r in rows if r["turn_idx"] == 0)


def test_write_is_cached_and_byte_identical(tmp_path):
    a = gen.write(SPEC, 9, str(tmp_path / "a"))
    b = gen.write(SPEC, 9, str(tmp_path / "b"))
    files = sorted(f for f in os.listdir(a) if f.endswith(".parquet"))
    assert len(files) == SPEC.n_files
    for f in files:
        with open(os.path.join(a, f), "rb") as fa, open(os.path.join(b, f), "rb") as fb:
            assert fa.read() == fb.read()
    assert pq.read_table(a).num_rows == SPEC.n_turns
    mtime = os.path.getmtime(os.path.join(a, files[0]))
    gen.write(SPEC, 9, a)  # cached: not rewritten
    assert os.path.getmtime(os.path.join(a, files[0])) == mtime


def test_vocabulary_cannot_form_patterns():
    vocab = gen.vocabulary()
    assert len(set(vocab)) > 0.95 * len(vocab)
    assert all(w.isalpha() and w.islower() for w in vocab)
