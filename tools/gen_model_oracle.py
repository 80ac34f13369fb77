"""Generate baked oracle spans for the model-path NER queries.

Runs the SINGLE-PROCESS numpy pointer-NER model (no Spark) over the
deterministic ``doc_id < 50`` subset of each testdata scale factor and writes
``model_oracle_values.json`` at the repo root. ``__spark_entry__.oracle_sql``
turns these into a ``VALUES`` table, so the driver's DuckDB comparison
verifies that the distributed mapInPandas path (Arrow batching, partitioning,
padding) reproduces the single-process semantics exactly. The single-process
path itself is pinned bit-exact to the reference decode
(``engines/data.py:83-115``) by the pytest parity suite.

Regenerate after any intentional model/tokenizer/decode change:
    python tools/gen_model_oracle.py
"""

from __future__ import annotations

import json
import os
import sys

# single-threaded BLAS before numpy import — executor parity (see memory notes)
for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow.parquet as pq  # noqa: E402

from entity_extractor_by_pointer_spark.functions.model import (  # noqa: E402
    NerConfig,
    PointerNerModel,
)

SFS = ["sf0.001", "sf0.01", "sf0.1"]
N_DOCS = 50
CLASSES = ["person", "location", "organization"]


def spans_for(sf_dir: str, cfg: NerConfig) -> list[list]:
    tbl = pq.read_table(os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"])
    pdf = tbl.to_pandas()
    pdf = pdf[pdf["doc_id"] < N_DOCS].sort_values("doc_id")
    model = PointerNerModel(cfg)
    rows: list[list] = []
    texts = pdf["text"].fillna("").tolist()
    ids = pdf["doc_id"].tolist()
    for doc_id, spans in zip(ids, model.predict_batch(texts)):
        for sp in spans:
            rows.append(
                [
                    int(doc_id),
                    CLASSES[sp.class_id],
                    sp.entity,
                    int(sp.start_idx),
                    int(sp.end_idx),
                    float(sp.score),
                ]
            )
    return rows


def main() -> None:
    out: dict[str, dict[str, list[list]]] = {}
    for sf in SFS:
        sf_dir = f"/root/testdata/{sf}"
        out[sf] = {
            "gp": spans_for(sf_dir, NerConfig(classes=CLASSES, model_type="gp")),
            "bp": spans_for(sf_dir, NerConfig(classes=CLASSES, model_type="bp")),
        }
        print(sf, "gp:", len(out[sf]["gp"]), "bp:", len(out[sf]["bp"]))
    dst = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "model_oracle_values.json")
    with open(dst, "w") as f:
        json.dump(out, f)
    print("wrote", dst)


if __name__ == "__main__":
    main()
