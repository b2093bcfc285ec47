"""Content hashes of every Python-boundary stage and export file, for a
byte-identity comparison of two checkouts. Run from a checkout root:

    python scripts/boundary_hashes.py stages OUT.json SF_DIR   # ~1 min
    python scripts/boundary_hashes.py exports OUT.json         # ~5 min

``stages`` hashes each stage output: row count, schema JSON (nullability
included) and a sha256 over the sorted reprs of all rows. Inputs are the
perfbench ``job`` seed-1 pages (1,000 pages, 1% malformed) for
``parse_pages`` (default columns, the census columns, and
``masking="placeholder"``) and the ``documents.parquet`` of a testdata
scale-factor directory (``SF_DIR``, e.g. sf0.01) for the corpus stages.
The word-token family (tokenizer, word count, gram stream and their
callers) is hashed on those documents (``words.*``) and on a small edge
frame (``edge.*``: NULL, empty, whitespace-only, one-token, vertical-tab
and U+3000 texts, ~1,000-token docs). ``exports`` runs tests/test_warc.py and
tests/test_jsonl.py with ``write_warc``/``write_jsonl`` wrapped, and
records the sha256 of every file each call writes, keyed by test id and
call number. A record index holds absolute WARC paths, so its hash is
over its schema and rows with each path cut to its file name.
Compare two OUT.json files with ``diff``.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import json
import os
import random
import shutil
import sys
import tempfile

ROOT = os.getcwd()
sys.path.insert(0, ROOT)


def _sha(data: bytes) -> str:
    return hashlib.sha256(data).hexdigest()


def _edge_docs(spark):
    """(doc_id, text, lang, source): the texts where tokenizers and word
    counts disagree first, plus two long docs sharing a 100-token run."""
    from slowspark.util import local_frame

    rng = random.Random(3)
    vocab = [f"w{i}" for i in range(40)] + ["the", "and", "of"]
    long1 = [rng.choice(vocab) for _ in range(1100)]
    long2 = long1[:100] + [rng.choice(vocab) for _ in range(900)]
    rows = [
        (1, None, "en", "s1"), (2, "", "en", "s1"), (3, "   ", "de", "s2"),
        (4, " \n\t ", "de", None), (5, "Word", "en", "s1"),
        (6, "a\x0bB  c\n", "en", "s2"), (7, "x\u3000y z", None, "s3"),
        (8, " ".join(long1), "en", "s1"), (9, " ".join(long2), "de", "s2"),
        (10, "The cat sat on the mat and the cat sat", "en", "s3"),
    ]
    return local_frame(
        spark, rows, "doc_id long, text string, lang string, source string"
    )


def _word_family(h, v, tag, d):
    """Hash every public function of the word-token family on `d`."""
    from slowspark import corpus, dsir, qualityclf, textops

    h(f"{tag}.token_count", textops.token_count(d))
    h(f"{tag}.exploded_ngrams", textops.exploded_ngrams(d, n=3))
    h(f"{tag}.with_ngram_set", textops.with_ngram_set(d, n=3))
    h(f"{tag}.exact_substring_dedup",
      textops.exact_substring_dedup(d, n=10, with_text=True))
    h(f"{tag}.pmi_pairs", textops.pmi_pairs(d, group_cols=("lang",), min_count=2))
    h(f"{tag}.repetition_stats", textops.repetition_stats(d))
    h(f"{tag}.quality_score", textops.quality_score(d))
    h(f"{tag}.contamination_report", textops.contamination_report(
        d, d.filter(d.doc_id % 7 == 0), n=5))
    h(f"{tag}.quality_filter_flags", corpus.quality_filter_flags(d))
    h(f"{tag}.passage_table", corpus.passage_table(d, passage_words=7))
    h(f"{tag}.passage_dedup", corpus.passage_dedup(
        d, passage_words=7, max_docs_per_passage=1, with_text=True))
    h(f"{tag}.chunk_passages", corpus.chunk_passages(d, 9, 4))
    h(f"{tag}.stupid_backoff", corpus.stupid_backoff_logprob(d))
    h(f"{tag}.kneser_ney", corpus.kneser_ney_logprob(d, discount=None))
    h(f"{tag}.unigram_logprob", corpus.unigram_logprob(d))
    h(f"{tag}.dataset_card", corpus.dataset_card(d))
    v(f"{tag}.mixture_rates", corpus.mixture_rates(d, {"en": 0.6, "de": 0.4}))
    v(f"{tag}.temperature_props", corpus.temperature_mixture_props(d, 2.0))
    h(f"{tag}.pack_sequences", corpus.pack_sequences(d, seq_len=64))
    h(f"{tag}.pack_bins", corpus.pack_bins(d, seq_len=512, n_shards=4))
    h(f"{tag}.tfidf_pairs", corpus.tfidf_similar_pairs(d, min_cosine=0.3))
    h(f"{tag}.dsir_rows", dsir.hashed_ngram_rows(d, n_buckets=97))
    h(f"{tag}.text_features",
      qualityclf.hashed_text_features(d, n_buckets=1 << 10))
    h(f"{tag}.text_features_unigram",
      qualityclf.hashed_text_features(d, n_buckets=1 << 10, bigrams=False))
    h(f"{tag}.char_features", qualityclf.hashed_char_ngram_features(d))


def stages(sf_dir: str) -> dict:
    from pyspark.errors import PythonException
    from pyspark.sql import functions as F

    from perfbench.inputs import gen_pages as perfbench_pages
    from perfbench.workloads import CENSUS_COLS
    from slowspark import bpe, textops, unigramlm
    from slowspark.gen import gen_pages
    from slowspark.gopherrep import gopher_repetition_stats
    from slowspark.parse import parse_pages
    from slowspark.schema import PAGES_SCHEMA
    from slowspark.session import get_spark
    from slowspark.sources import read_warc, read_warc_selective, write_warc

    spark = get_spark(master="local[4]", shuffle_partitions=4)
    out = {}

    def h(name, df):
        try:
            rows = sorted(repr(r.asDict(recursive=True)) for r in df.collect())
        except PythonException as e:
            # a Python stage that raises on some input records the error,
            # so both checkouts still compare on it
            out[name] = {"error": str(e).strip().splitlines()[-1]}
            return
        out[name] = {
            "rows": len(rows),
            "schema": df.schema.json(),
            "sha256": _sha("\n".join(rows).encode()),
        }

    def v(name, value):
        out[name] = {"sha256": _sha(repr(value).encode())}

    tmp = tempfile.mkdtemp(prefix="boundary_hashes_")
    perfbench_pages(tmp, 1, 1000, with_malformed=True)
    pages = spark.read.schema(PAGES_SCHEMA).parquet(os.path.join(tmp, "pages"))
    h("parse.default", parse_pages(pages))
    h("parse.census", parse_pages(pages, columns=CENSUS_COLS))
    h("parse.placeholder", parse_pages(pages, masking="placeholder"))
    h("gen_pages", gen_pages(spark, 300))

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    h("gopher", gopher_repetition_stats(docs))
    h("bpe.pretoken_freq", bpe.pretoken_frequencies(docs))
    merges = bpe.bpe_learn(docs, 12)
    v("bpe.merges", merges)
    byte_merges = bpe.bpe_learn(docs, 6, byte_level=True)
    h("bpe.segment_bytes", bpe.bpe_segment(docs, byte_merges, byte_level=True))
    h("bpe.udf", bpe.bpe_segment_udf(docs, merges))
    h("bpe.udf_counts", bpe.bpe_segment_udf(docs, merges, counts_only=True))
    h("bpe.udf_bytes", bpe.bpe_segment_udf(docs, byte_merges, byte_level=True))
    model = unigramlm.unigram_train(docs, vocab_size=40)
    h("unigram.model", model)
    h("unigram.counts", unigramlm.unigram_segment_counts(docs, model))
    h("unigram.segment", unigramlm.unigram_segment(docs, model))
    h("minhash", textops.minhash_signatures(docs))
    h("simhash", textops.simhash_signatures(docs))
    h("normalize", textops.normalize_text(docs))
    h("multi_pattern", textops.multi_pattern_counts(docs, ["the", "and", "of the"]))
    _word_family(h, v, "words", docs)
    _word_family(h, v, "edge", _edge_docs(spark))

    wd = docs.select(
        F.concat(F.lit("https://x/"), F.col("doc_id").cast("string")).alias("url"),
        F.encode("text", "utf-8").alias("payload"),
        "lang",
    )
    write_warc(wd, tmp + "/w", n_files=3, header_cols=("lang",),
               index_path=tmp + "/i")
    name = F.regexp_extract("warc_path", "[^/]+$", 0)
    h("read_warc",
      read_warc(spark, tmp + "/w/*.warc.gz").withColumn("warc_path", name))
    urls = [f"https://x/{r[0]}" for r in docs.select("doc_id").limit(40).collect()]
    h("read_warc_selective",
      read_warc_selective(spark, tmp + "/i", urls=urls)
      .withColumn("warc_path", name))
    shutil.rmtree(tmp)
    return out


class _ExportHashes:
    """pytest plugin: the files each write_warc/write_jsonl call writes."""

    def __init__(self):
        import slowspark.sources as sources

        self.out, self.test, self.n = {}, None, 0
        sources.write_warc = self._wrap(sources.write_warc, "warc")
        sources.write_jsonl = self._wrap(sources.write_jsonl, "jsonl")

    def _wrap(self, fn, kind):
        @functools.wraps(fn)
        def call(df, path, *a, **k):
            result = fn(df, path, *a, **k)
            self.n += 1
            files = {}
            for d in (path, k.get("index_path")):
                for f in sorted(glob.glob(os.path.join(d or "", "part-*"))):
                    key = f"{os.path.basename(d)}/{os.path.basename(f)}"
                    files[key] = _index_sha(f) if f.endswith(".parquet") else (
                        _sha(open(f, "rb").read())
                    )
            self.out[f"{self.test}#{self.n}:{kind}"] = files
            return result

        return call

    def pytest_runtest_setup(self, item):
        self.test, self.n = item.nodeid, 0


def _index_sha(path: str) -> str:
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    rows = [
        dict(r, warc_path=os.path.basename(r["warc_path"]))
        for r in t.to_pylist()
    ]
    return _sha((str(t.schema) + repr(rows)).encode())


def exports() -> dict:
    import pytest

    plugin = _ExportHashes()
    code = pytest.main(
        ["tests/test_warc.py", "tests/test_jsonl.py", "-q",
         "-p", "no:cacheprovider"],
        plugins=[plugin],
    )
    if code != 0:
        raise SystemExit(f"export tests failed (pytest exit {code})")
    return plugin.out


if __name__ == "__main__":
    mode, dest, *args = sys.argv[1:]
    result = {"stages": stages, "exports": exports}[mode](*args)
    with open(dest, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
