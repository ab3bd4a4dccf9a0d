"""Same seed -> identical inputs; another seed -> different inputs."""

import json

import pyarrow.parquet as pq
import pytest

import generate

SMALL = {
    "er_two_source": generate.ERParams(records_per_source=300),
    "corpus_near_dup": generate.CorpusParams(documents=300),
}


def _tables(gen):
    return {name: pq.read_table(path) for name, path in gen.paths.items()}


@pytest.mark.parametrize("workload", sorted(SMALL))
def test_seed_determines_inputs(workload, tmp_path):
    fn, _ = generate.GENERATORS[workload]
    first = fn(7, str(tmp_path / "a"), SMALL[workload])
    again = fn(7, str(tmp_path / "b"), SMALL[workload])
    other = fn(8, str(tmp_path / "c"), SMALL[workload])

    t1, t2, t3 = _tables(first), _tables(again), _tables(other)
    assert t1.keys() == t2.keys() == t3.keys()
    assert all(t1[k].equals(t2[k]) for k in t1)
    assert first.properties == again.properties
    assert first.input_records == again.input_records
    assert any(not t1[k].equals(t3[k]) for k in t1)


def test_vocabulary_words_are_distinct():
    import numpy as np

    words = generate.vocabulary(np.random.default_rng(0), 20_000)
    assert len(set(words.tolist())) == 20_000


def test_er_gold_pairs_follow_duplicate_rate(tmp_path):
    gen = generate.generate_er_two_source(3, str(tmp_path), SMALL["er_two_source"])
    gold = pq.read_table(gen.paths["gold"])
    assert gold.num_rows == round(0.7 * 300)
    b_ids = set(pq.read_table(gen.paths["source_b"]).column("id").to_pylist())
    assert set(gold.column("id2").to_pylist()) <= b_ids


def test_command_line_prints_the_record(tmp_path, capsys):
    assert generate.main(["--workload", "corpus_near_dup", "--seed", "4",
                          "--scale", "0.05", "--out", str(tmp_path)]) == 0
    printed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    direct = generate.generate_corpus_near_dup(
        4, str(tmp_path / "direct"), generate.default_params("corpus_near_dup", 0.05))
    assert printed["input_records"] == direct.input_records == 300
    assert printed["properties"] == json.loads(json.dumps(direct.properties))
    for name, path in printed["paths"].items():
        assert pq.read_table(path).equals(pq.read_table(direct.paths[name]))
