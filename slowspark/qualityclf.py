"""fastText-style linear quality classifier — hashed bag-of-ngrams
features + distributed batch-GD logistic regression, pure DataFrame ops.

The production shape (Joulin et al. 2016 "Bag of Tricks", and the
CCNet / LLaMA "Wikipedia-reference classifier" curation stage): score
every crawled document with a linear model over hashed token n-grams and
keep the high-scoring tail. At 100 TB the split of work is:

  - TRAIN on a bounded labeled sample (positives = a trusted corpus,
    negatives = random crawl) — millions of rows, not the full corpus;
  - SCORE the full corpus in one narrow pass: hash features, broadcast
    the coefficient table (n_buckets rows, a few MB), sum tf*weight per
    doc, sigmoid. No shuffle wider than a per-doc aggregation.

Why not pyspark.ml's LogisticRegression: its Vector columns can only be
assembled from per-doc sparse features through a row-at-a-time Python
UDF (VectorUDT is not Arrow-representable, so no Arrow-batched UDF can
emit it) or through HashingTF's non-reproducible-in-SQL MurmurHash3.
Full-batch gradient descent over the exploded (id, bucket, tf) feature
table IS the same computation MLlib runs inside treeAggregate, and here
it stays in whole-stage-codegen built-ins: each epoch is one broadcast
join of the coefficient table + two map-side-combined aggregations
(per-doc margin, per-bucket gradient) + one bounded driver collect of
<= n_buckets gradient rows. Determinism: zeros init, fixed epoch count,
float64 everywhere; per-run low-bit sum-order jitter is below the
round-6 reporting grain the driver oracle hashes at.

Feature hashing is xxhash64 pmod n_buckets over the gram text (the word
grams are textops.unigram_bigram_rows, DSIR's grams too), reproducible
from materialized feature rows by any engine.

No reference analog (/root/reference is a slow-log parser, src/*.rs).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, functions as F

from slowspark.textops import unigram_bigram_rows
from slowspark.util import local_frame


def _hashed_tf(grams: DataFrame, id_col: str, n_buckets: int) -> DataFrame:
    """(id, bucket, tf) from one (id_col, gram) row per gram occurrence:
    each gram hashed xxhash64 pmod n_buckets, tf = bucket count / the
    doc's L2 norm of bucket counts — one groupBy(id, bucket) with
    map-side combine, then a window re-partition by id for the norm."""
    from pyspark.sql import Window

    counts = grams.groupBy(
        F.col(id_col).alias("id"),
        F.pmod(F.xxhash64("gram"), F.lit(n_buckets)).alias("bucket"),
    ).agg(F.count("*").cast("double").alias("c"))
    norm = F.sqrt(F.sum(F.col("c") * F.col("c")).over(Window.partitionBy("id")))
    return counts.select("id", "bucket", (F.col("c") / norm).alias("tf"))


def hashed_text_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1 << 15,
    bigrams: bool = True,
) -> DataFrame:
    """(id, bucket, tf): lowered whitespace unigrams (+ bigrams), each
    hashed xxhash64 pmod n_buckets; tf = gram count / sqrt(sum of squared
    gram counts in the doc) — L2 normalization, so every doc's feature
    vector has unit norm. That makes the logistic curvature exactly
    ||x||^2/4 = 1/4 for EVERY doc (train_logreg's step-size bound is
    uniform, not data-dependent) and, unlike mean-normalization, keeps
    the achievable margin scale large enough that full-batch GD reaches
    confident separations in tens of epochs (L1-normalized tf caps the
    per-gram contribution at 1/n_grams and was measured to underfit the
    driver task at any stable step size). Docs with zero tokens produce
    no rows — score_documents gives them sigmoid(intercept).

    Scale shape: the lambda-free position explode of
    textops.unigram_bigram_rows + one groupBy(id, bucket) with map-side
    combine, then a window re-partition by id for the per-doc norm — two
    narrow shuffles of the already-aggregated (doc, distinct-gram)
    table."""
    return _hashed_tf(
        unigram_bigram_rows(df, text_col, id_col, bigrams), id_col, n_buckets
    )


def train_logreg(
    features: DataFrame,
    labels: DataFrame,
    n_buckets: int = 1 << 15,
    epochs: int = 30,
    lr: float = 2.0,
    reg: float = 1e-4,
    id_col: str = "id",
    label_col: str = "label",
) -> tuple[DataFrame, float, list[float]]:
    """Full-batch GD logistic regression over sparse (id, bucket, tf)
    features. Returns (coefficients DataFrame (bucket, weight) with only
    nonzero weights, intercept, per-epoch mean-logloss history).

    Per epoch: margin_d = b + sum_bucket tf*w (broadcast join of the
    coefficient table + per-doc agg), residual r_d = sigmoid(margin) - y,
    grad_w = sum_d tf*r_d / n_docs + reg*w (per-bucket agg, driver
    collect of <= n_buckets rows — bounded by construction: 2^15 rows
    ~ 0.5 MB, NOT by data size). The joined feature table is cached once;
    epochs reuse it. Loss uses the numerically-stable softplus form.

    Step size: logistic curvature per doc is ||x||^2 / 4 = 1/4 exactly
    under the L2-normalized features (hashed_text_features), so the
    mean-loss Hessian's top eigenvalue is <= 1/4 regardless of feature
    correlation (an average of PSD terms each bounded by 1/4) — GD
    descends monotonically for lr <= 4 and is stable below 8.
    Mis-specified larger rates push the effective
    curvature above the per-doc bound, so the loop backtracks: whenever
    an epoch's loss exceeds the previous epoch's, the divergent step is
    REVERTED and the step size halves (deterministic — driven only by
    the loss sequence). An aggressive initial lr is therefore safe:
    each divergent step costs one epoch of budget and leaves no trace
    in the weights.

    At 100 TB: train on a labeled SAMPLE (module docstring) — this
    function's cost is epochs × two aggregations over the sample's
    feature rows; the full-corpus cost lives in score_documents."""
    spark = features.sparkSession
    feats = (
        features.select(
            F.col(id_col).alias("id"), "bucket", F.col("tf").cast("double")
        )
        .join(
            labels.select(
                F.col(id_col).alias("id"),
                F.col(label_col).cast("double").alias("y"),
            ),
            "id",
        )
        .persist()
    )
    doc_y = feats.select("id", "y").distinct().persist()
    n_docs = doc_y.count()
    if n_docs == 0:
        raise ValueError("train_logreg: no labeled documents with features")

    w = np.zeros(n_buckets, dtype=np.float64)
    b = 0.0
    prev: tuple[np.ndarray, float] | None = None
    history: list[float] = []
    for _ in range(epochs):
        nz = np.flatnonzero(w)
        wdf = local_frame(
            spark,
            [(int(i), float(w[i])) for i in nz],
            "bucket int, weight double",
        )
        margins = (
            feats.join(F.broadcast(wdf), "bucket", "left")
            .groupBy("id", "y")
            .agg(
                (F.sum(F.col("tf") * F.coalesce("weight", F.lit(0.0))) + F.lit(b))
                .alias("m")
            )
        )
        # residual = sigmoid(m) - y; loss = softplus(m) - y*m (stable)
        resid = margins.select(
            "id",
            (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("m"))) - F.col("y")).alias("r"),
            (
                F.when(F.col("m") > 0, F.col("m") + F.log1p(F.exp(-F.col("m"))))
                .otherwise(F.log1p(F.exp(F.col("m"))))
                - F.col("y") * F.col("m")
            ).alias("ll"),
        ).persist()
        agg = resid.agg(F.sum("r").alias("sr"), F.avg("ll").alias("loss")).collect()[0]
        grad_rows = (
            feats.join(resid.select("id", "r"), "id")
            .groupBy("bucket")
            .agg(F.sum(F.col("tf") * F.col("r")).alias("g"))
            .collect()
        )
        resid.unpersist()
        loss = float(agg["loss"])
        if history and loss > history[-1] and prev is not None:
            # the last step overshot: undo it, halve, and let the next
            # epoch recompute the gradient at the reverted point
            w, b = prev[0].copy(), prev[1]
            prev = None
            lr *= 0.5
            history.append(loss)
            continue
        history.append(loss)
        prev = (w.copy(), b)
        grad = np.zeros(n_buckets, dtype=np.float64)
        for row in grad_rows:
            grad[row["bucket"]] = row["g"]
        w -= lr * (grad / n_docs + reg * w)
        b -= lr * float(agg["sr"]) / n_docs
    feats.unpersist()
    doc_y.unpersist()
    nz = np.flatnonzero(w)
    coeffs = local_frame(
        spark, [(int(i), float(w[i])) for i in nz], "bucket int, weight double"
    )
    return coeffs, b, history


def stack_coeffs(coeffs: DataFrame, intercept: float) -> DataFrame:
    """The stored coefficient-table layout: `coeffs` (bucket, weight)
    with the intercept stacked on as the bucket = -1 row."""
    return coeffs.unionByName(
        local_frame(
            coeffs.sparkSession, [(-1, float(intercept))],
            "bucket int, weight double",
        )
    )


def split_coeffs(stacked: DataFrame) -> tuple[DataFrame, float]:
    """(weights, intercept) of a stack_coeffs table: the bucket >= 0
    rows, and the bucket = -1 weight (0.0 for a table without that
    row). Collects the one intercept row."""
    icpt = stacked.filter(F.col("bucket") == -1).collect()
    return (
        stacked.filter(F.col("bucket") >= 0),
        float(icpt[0]["weight"]) if icpt else 0.0,
    )


def score_documents(
    features: DataFrame,
    coeffs: DataFrame,
    intercept: float,
    id_col: str = "id",
) -> DataFrame:
    """(id, score): sigmoid(intercept + sum tf*weight) per document from
    a sparse feature table + a coefficient table. The full-corpus pass:
    coeffs is broadcast (<= n_buckets rows); one per-doc aggregation is
    the only shuffle, map-side combined. Docs absent from `features`
    (zero tokens) are absent here — give them sigmoid(intercept) at the
    consumer if needed."""
    return (
        features.join(F.broadcast(coeffs), "bucket", "left")
        .groupBy(F.col(id_col).alias("id"))
        .agg(
            (
                F.lit(1.0)
                / (
                    F.lit(1.0)
                    + F.exp(
                        -(
                            F.sum(
                                F.col("tf") * F.coalesce("weight", F.lit(0.0))
                            )
                            + F.lit(float(intercept))
                        )
                    )
                )
            ).alias("score")
        )
    )


def classifier_accuracy(
    scores: DataFrame, labels: DataFrame, id_col: str = "id",
    label_col: str = "label", threshold: float = 0.5,
) -> float:
    """Fraction of labeled docs where (score >= threshold) == label."""
    joined = scores.join(
        labels.select(F.col(id_col).alias("id"), F.col(label_col).alias("y")),
        "id",
    )
    row = joined.agg(
        F.avg(
            ((F.col("score") >= threshold).cast("int") == F.col("y").cast("int"))
            .cast("double")
        ).alias("acc")
    ).collect()[0]
    return float(row["acc"])


def sigmoid(x: float) -> float:
    """Driver-side scalar sigmoid (for intercept-only defaults)."""
    return 1.0 / (1.0 + math.exp(-x))


# ---------------------------------------------------------------------------
# Multilingual language ID — the same machinery, one-vs-rest over
# hashed CHAR n-grams (the fastText langid recipe, Joulin et al. 2016)
# ---------------------------------------------------------------------------

def hashed_char_ngram_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    n_buckets: int = 1 << 12,
) -> DataFrame:
    """(id, bucket, tf): lowered CHARACTER n-grams (spaces included —
    word-boundary context is the langid signal: ' de' vs ' da' vs ' di'
    separates es/pt/it), hashed xxhash64 pmod n_buckets, L2-normalized
    like hashed_text_features (same step-size contract for
    train_logreg). Char n-grams are what separates Latin-script
    confusable languages where textops.language_id's stopword overlap
    ties — diacritics and affix patterns live below the token level.
    Docs shorter than n chars produce no rows.

    Scale shape: gram materialization is per-document codegen (transform
    over sequence); one map-side-combined groupBy(id, bucket) + the
    window norm — identical to the word-gram sibling."""
    if n < 1:
        raise ValueError(f"hashed_char_ngram_features: n must be >= 1, got {n}")
    grams = F.expr(
        f"CASE WHEN length(__t) >= {n} THEN "
        f"transform(sequence(1, length(__t) - {n} + 1), "
        f"i -> substring(__t, i, {n})) ELSE array() END"
    )
    base = (
        df.select(F.col(id_col).alias("id"), F.lower(F.col(text_col)).alias("__t"))
        .select("id", F.explode(grams).alias("gram"))
    )
    return _hashed_tf(base, "id", n_buckets)


def train_langid(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "lang",
    langs: list | None = None,
    n: int = 3,
    n_buckets: int = 1 << 12,
    epochs: int = 15,
    lr: float = 6.0,
    reg: float = 1e-4,
) -> DataFrame:
    """One-vs-rest multilingual classifier over hashed char n-grams:
    one train_logreg run per language (label = lang == L), stacked into
    a single coefficient table (lang, bucket, weight) with each
    language's intercept at bucket = -1 — the multi-class extension of
    the stack_coeffs layout. `langs` defaults to the distinct
    labels, sorted (deterministic class order).

    At 100 TB this trains on a bounded LABELED sample (a few 10^5 docs
    per language); scoring the corpus is score_langid's one broadcast
    join. The per-language loops share nothing but the feature table —
    embarrassingly parallel across a fleet if ever needed; here they
    run sequentially (n_langs is small)."""
    if langs is None:
        langs = sorted(
            r[0] for r in df.select(label_col).distinct().collect()
            if r[0] is not None
        )
    if len(langs) < 2:
        raise ValueError(f"train_langid: need >= 2 languages, got {langs}")
    feats = hashed_char_ngram_features(
        df, text_col, id_col, n=n, n_buckets=n_buckets
    ).persist()
    feats.count()
    out = None
    for lang in langs:
        labels = df.select(
            F.col(id_col).alias("id"),
            (F.col(label_col) == lang).cast("int").alias("label"),
        )
        coeffs, intercept, _ = train_logreg(
            feats, labels, n_buckets=n_buckets,
            epochs=epochs, lr=lr, reg=reg,
        )
        part = stack_coeffs(coeffs, intercept).select(
            F.lit(lang).alias("lang"), "bucket", "weight"
        )
        out = part if out is None else out.unionByName(part)
    result = out.localCheckpoint()
    feats.unpersist()
    return result


def score_langid(
    features: DataFrame,
    coeffs: DataFrame,
    id_col: str = "id",
) -> DataFrame:
    """(id, lang_pred, margin): per-document argmax over the one-vs-rest
    margins (intercept_L + sum tf*weight_L). Margins are ROUNDED to 6dp
    BEFORE the argmax so sum-order low bits can flip neither the
    reported margin nor the winner (ties then break to the
    lexicographically larger lang via struct max — deterministic).

    Scale shape: ONE broadcast join of the stacked coefficient table
    (n_langs * nnz rows, a few MB) against the feature stream, one
    map-side-combined groupBy(id, lang), a broadcast intercept
    completion (docs can lack features for some language entirely), and
    one per-id struct-max — no shuffle wider than the per-doc
    aggregations."""
    co = coeffs.filter(F.col("bucket") >= 0)
    ic = coeffs.filter(F.col("bucket") == -1).select(
        "lang", F.col("weight").alias("b")
    )
    margins = (
        features.join(F.broadcast(co), "bucket")
        .groupBy(F.col(id_col).alias("id"), "lang")
        .agg(F.sum(F.col("tf") * F.col("weight")).alias("mw"))
    )
    ids = features.select(F.col(id_col).alias("id")).distinct()
    full = (
        ids.crossJoin(F.broadcast(ic))
        .join(margins, ["id", "lang"], "left")
        .select(
            "id", "lang",
            F.round(F.coalesce("mw", F.lit(0.0)) + F.col("b"), 6).alias("margin"),
        )
    )
    best = full.groupBy("id").agg(
        F.max(F.struct("margin", "lang")).alias("best")
    )
    return best.select(
        "id",
        F.col("best.lang").alias("lang_pred"),
        F.col("best.margin").alias("margin"),
    )


# deterministic multilingual fixture: stopword- and diacritic-heavy
# phrase pools for six languages, four of them Latin-script confusables
# (es/pt/it/fr) — the case textops.language_id's stopword overlap can't
# separate reliably. Docs are arithmetic phrase combinations: no RNG.
_LANGID_POOLS = {
    "en": [
        "the children play in the street and the dog runs to the house",
        "i do not know where the library is but it is near the square",
        "there was a small garden behind the old church by the river",
        "we have been waiting for the train since early this morning",
        "she says that the weather will be cold again next week",
        "the bread and the cheese are on the table in the kitchen",
        "nobody wanted to answer the question about the broken window",
        "they walked through the forest until the sun went down",
    ],
    "es": [
        "los niños juegan en la calle y el perro corre hacia la casa",
        "no sé dónde está la biblioteca pero está cerca de la plaza",
        "había un pequeño jardín detrás de la iglesia vieja junto al río",
        "hemos estado esperando el tren desde temprano esta mañana",
        "ella dice que el tiempo volverá a ser frío la próxima semana",
        "el pan y el queso están sobre la mesa de la cocina",
        "nadie quería responder la pregunta sobre la ventana rota",
        "caminaron por el bosque hasta que se puso el sol",
    ],
    "pt": [
        "as crianças brincam na rua e o cachorro corre para a casa",
        "não sei onde fica a biblioteca mas é perto da praça",
        "havia um pequeno jardim atrás da igreja velha junto ao rio",
        "estamos esperando o trem desde cedo esta manhã",
        "ela diz que o tempo vai ficar frio de novo na próxima semana",
        "o pão e o queijo estão sobre a mesa da cozinha",
        "ninguém queria responder à pergunta sobre a janela quebrada",
        "eles caminharam pela floresta até o sol se pôr",
    ],
    "it": [
        "i bambini giocano per la strada e il cane corre verso la casa",
        "non so dove sia la biblioteca ma è vicino alla piazza",
        "c'era un piccolo giardino dietro la vecchia chiesa lungo il fiume",
        "stiamo aspettando il treno da presto questa mattina",
        "lei dice che il tempo tornerà a essere freddo la prossima settimana",
        "il pane e il formaggio sono sul tavolo della cucina",
        "nessuno voleva rispondere alla domanda sulla finestra rotta",
        "hanno camminato nel bosco finché il sole non è tramontato",
    ],
    "fr": [
        "les enfants jouent dans la rue et le chien court vers la maison",
        "je ne sais pas où est la bibliothèque mais elle est près de la place",
        "il y avait un petit jardin derrière la vieille église au bord du fleuve",
        "nous attendons le train depuis tôt ce matin",
        "elle dit que le temps sera encore froid la semaine prochaine",
        "le pain et le fromage sont sur la table de la cuisine",
        "personne ne voulait répondre à la question sur la fenêtre cassée",
        "ils ont marché dans la forêt jusqu'au coucher du soleil",
    ],
    "de": [
        "die kinder spielen auf der straße und der hund läuft zum haus",
        "ich weiß nicht wo die bibliothek ist aber sie ist nahe am platz",
        "hinter der alten kirche am fluss gab es einen kleinen garten",
        "wir warten seit dem frühen morgen auf den zug",
        "sie sagt dass das wetter nächste woche wieder kalt wird",
        "das brot und der käse stehen auf dem tisch in der küche",
        "niemand wollte die frage über das kaputte fenster beantworten",
        "sie gingen durch den wald bis die sonne unterging",
    ],
}


def langid_fixture(spark, n_per_lang: int = 60):
    """Deterministic multilingual corpus: doc i of language L is three
    pool phrases chosen by modular arithmetic (co-prime strides walk
    every combination) — doc_id = lang_ix * 10^6 + i, no randomness.
    doc_id parity equals i's parity, so even/odd splits are balanced
    WITHIN every language (an id scheme where parity tracked the
    language index would silently turn a holdout split into unseen
    classes)."""
    langs = sorted(_LANGID_POOLS)
    rows = []
    for lx, lang in enumerate(langs):
        pool = _LANGID_POOLS[lang]
        m = len(pool)
        for i in range(n_per_lang):
            text = " ".join(
                pool[(i * s + lx + k) % m] for k, s in ((0, 1), (1, 3), (2, 5))
            )
            rows.append((lx * 10**6 + i, text, lang))
    return local_frame(spark, rows, "doc_id long, text string, lang string")
