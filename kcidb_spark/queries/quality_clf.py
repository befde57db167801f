"""The trained quality classifier — the fastText/CCNet-shape gate
(VERDICT r12 "Next round" #6).

The quality family had rule gates (Gopher), statistical LM gates
(surprisal), and DSIR importance selection; what production corpus
pipelines actually gate on first is a hashed bag-of-ngrams LINEAR
classifier trained on a distillation target.  These entries run that
machinery over the documents table with lang-id as the target (the
canonical fastText task; on this synthetic corpus the classes are not
lexically separable, so the learned model hovers near the class
prior — the point certified here is the distributed training/scoring
PLUMBING, which is rows-only like the tokenizer trainers; the
learning properties are pinned on a separable corpus in
tests/test_textclf.py).

Scale posture (operators/textclf.py): the weight vector is
driver-held control-plane (D doubles); each epoch is two partial-agg
passes over the persisted hashed-feature frame; scoring is one
broadcast join + map-side partial agg — the shape that prices a
petabyte gate at one corpus scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kcidb_spark.cache import evict_session_frames
from kcidb_spark.queries.registry import register
from kcidb_spark.tables import table

#: Feature-space and schedule dials — tiny on purpose (toy corpus);
#: at 100 TB the bucket count grows to 2^20+ and the weight vector is
#: still control-plane-sized.
_CLF_BUCKETS = 1024
_CLF_EPOCHS = 3
_CLF_LR = 2.0

#: (appId, sf, dials) → (weights, bias, history) — the train-once
#: session cache (the _KM_CENTROIDS_CACHE idiom, shared eviction).
_CLF_CACHE: dict = {}

#: (appId, sf) → the persisted hashed-feature frame, shared by the
#: trainer (6 scans) and every scoring call — score-once-gate-many,
#: the lm._SCORED_CACHE idiom (corpus-REDUCED rows: ≤ D buckets per
#: doc).  Plain persist (not scoped): the frame outlives one query.
_CLF_FEATS_CACHE: dict = {}


def _labeled_feats(spark: SparkSession, sf_dir: str):
    import os as _os

    from pyspark import StorageLevel

    from kcidb_spark.operators.textclf import hash_features

    docs = table(spark, sf_dir, "documents", spread=True)
    app = spark.sparkContext.applicationId
    key = (app, _os.path.realpath(sf_dir))
    if key not in _CLF_FEATS_CACHE:
        # Evict cross-app leftovers AND cap same-app entries at 2 —
        # each entry is a PERSISTED corpus-reduced frame (the heavier
        # analog of the r13 _TRAINER_CACHE_MAX fix).
        evict_session_frames(_CLF_FEATS_CACHE, app)
        feats = hash_features(
            docs.select("doc_id", "text"), _CLF_BUCKETS
        ).persist(StorageLevel.MEMORY_AND_DISK)
        feats.count()
        _CLF_FEATS_CACHE[key] = feats
    labels = docs.select(
        "doc_id",
        (F.col("lang") == "en").cast("double").alias("y"),
    )
    return _CLF_FEATS_CACHE[key], labels


def _clf_trained(spark: SparkSession, sf_dir: str):
    import os as _os

    from kcidb_spark.operators.textclf import logreg_train
    from kcidb_spark.queries.advanced import _trainer_cache_put

    app = spark.sparkContext.applicationId
    key = (app, _os.path.realpath(sf_dir), _CLF_BUCKETS, _CLF_EPOCHS)
    if key not in _CLF_CACHE:
        feats, labels = _labeled_feats(spark, sf_dir)
        _trainer_cache_put(
            _CLF_CACHE, app, key,
            logreg_train(
                feats, labels, _CLF_BUCKETS,
                epochs=_CLF_EPOCHS, lr=_CLF_LR,
            ),
        )
    return _CLF_CACHE[key]


@register(
    "quality_classifier_train",
    tags=("pipeline", "quality", "classifier"),
    schema="epoch bigint, n_docs bigint, loss double",
)
def quality_classifier_train(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distributed training run of the hashed-bag-of-words logistic
    gate: _CLF_EPOCHS (3) full-batch epochs over the corpus, weight
    vector driver-held between epochs.  Returns the per-epoch loss
    curve (mean log-loss BEFORE each update) — rows-only: double sums
    are aggregation-order dependent, so no cross-engine hash exists
    (the BPE/unigram trainer precedent); the learning properties are
    pinned in tests/test_textclf.py (separable-corpus accuracy ≥0.95,
    tolerance agreement with the pure-Python reference trainer,
    prediction parity)."""
    _weights, _bias, history = _clf_trained(spark, sf_dir)
    return spark.createDataFrame(
        [(h["epoch"], h["n_docs"], h["loss"]) for h in history],
        "epoch bigint, n_docs bigint, loss double",
    )


@register(
    "quality_classifier_score",
    tags=("pipeline", "quality", "classifier"),
    schema="doc_id bigint, score double, pred bigint",
)
def quality_classifier_score(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Corpus gate pass with the session-trained classifier: hashed
    features ⋈ broadcast weights → per-document logit, map-side
    partial agg — the one-scan shape a 100 TB gate needs.  Rows-only
    (float logits); row count = corpus size by construction."""
    from kcidb_spark.operators.textclf import logreg_score

    weights, bias, _history = _clf_trained(spark, sf_dir)
    feats, _labels = _labeled_feats(spark, sf_dir)
    return logreg_score(feats, weights, bias)
