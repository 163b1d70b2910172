"""valico_spark — a PySpark-native schema + constraint validation engine.

A brand-new engine (NOT a port) with the query/validation capabilities of
s-panferov/valico (JSON Schema draft-07 / draft-2019-09 validation + a
Grape-style coercion DSL), re-expressed Spark-first:

* A **rule compiler** (`valico_spark.compiler.columns`) turns a
  valico-style JSON-Schema ruleset into vectorized Spark SQL ``Column``
  predicates and violation-row constructors evaluated by
  Catalyst/Tungsten (whole-stage codegen; no per-row Python in the hot
  path). It has one emitter per keyword, written against a *target*
  that answers the JSON type tests and reads the value: typed Spark
  rows decide the tests at compile time, VARIANT documents
  (``compiler.variantcolumns``) per row.
* A **reference-semantics core** (`valico_spark.compiler.pyvalidator`)
  reproduces valico's exact verdicts and ``{code, title, path, detail}``
  violation rows for arbitrary dynamic JSON documents. Its boolean gate
  (``Scope.gate``) makes it the serving path for dynamic JSON: one
  Arrow-batched ``mapInArrow`` stage passes the documents that clear the
  gate and walks only the failures. The VARIANT column plan
  (``compiler.variantcolumns``) serves rulesets outside the gate that it
  compiles, and an explicit ``mode="variant"``; the ungated stage serves
  whole rulesets no compiled plan can express.
* **Table-scale checks** (`valico_spark.operators`): single-pass column
  stats (null rate / HLL distinct / quantile sketches), uniqueness,
  cross-table referential integrity, KS & chi-square distribution drift —
  the lifts of valico's per-document semantics to 10^12-doc scale.
* **Training-data pipeline operators**: exact + MinHash-LSH + SimHash +
  n-gram-Jaccard + embedding-cosine dedup, ANN similarity search, text
  quality/language/token analysis, multimodal binary-column plumbing.
* **Curation + export tiers** (`valico_spark.plans.pipeline`,
  `valico_spark.operators.export`): composed sequential curation with
  single-pass attrition accounting (batch, streaming row tier, CLI), and
  the dataloader last mile — token-mixture sampling, deterministic
  global shuffle, hash-balanced shard export.

Reference parity citations use ``/root/reference/<file>:<line>``.
"""

from valico_spark.session import get_spark  # noqa: F401

__version__ = "0.1.0"
