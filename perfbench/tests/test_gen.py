"""Generator determinism and seed-invariant work."""

import gen


def test_same_seed_gives_identical_bytes(tmp_path):
    for workload in ("small", "crawl", "curate"):
        a = gen.write_inputs(workload, 7, str(tmp_path / f"{workload}-a"))
        b = gen.write_inputs(workload, 7, str(tmp_path / f"{workload}-b"))
        assert gen.digest(str(tmp_path / f"{workload}-a")) == gen.digest(str(tmp_path / f"{workload}-b"))
        assert {k: v for k, v in a.items() if not k.endswith("_path")} == {
            k: v for k, v in b.items() if not k.endswith("_path")
        }
        c = gen.write_inputs(workload, 8, str(tmp_path / f"{workload}-c"))
        assert gen.digest(str(tmp_path / f"{workload}-c")) != gen.digest(str(tmp_path / f"{workload}-a"))
        assert c["docs"] == a["docs"]


def test_input_size_is_nearly_seed_invariant():
    sizes = [gen.crawl_pages(s)[1]["html_bytes"] for s in (1, 2, 3)]
    assert max(sizes) / min(sizes) < 1.05
    words = [gen.small_pages(s, 5000)[1]["expected_words"] for s in (1, 2, 3)]
    assert max(words) / min(words) < 1.03


def test_crawl_pages_carry_the_fixed_hostile_multiset():
    table, info = gen.crawl_pages(3, 500)
    truncated = [h for h in table.column("html").to_pylist() if b"</html>" not in h]
    assert info["hostile_pages"] == len(truncated) == len(gen.HOSTILE)


def test_curate_corpus_shares():
    corpus, ev, info = gen.curate_corpus(5, n=400, n_eval=20)
    texts = corpus.column("text").to_pylist()
    assert corpus.num_rows == 400 and ev.num_rows == 20
    assert len(set(corpus.column("url").to_pylist())) == 400
    assert len(set(texts)) <= 400 - info["exact_dups"]
    assert sorted(corpus.column("doc_id").to_pylist()) == list(range(400))
