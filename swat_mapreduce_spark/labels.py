"""The reference's 30-class label vocabulary.

Sorted subdirectory names of the reference's ``class_folder.zip``
(shipped via distributed cache, ``java/PredictDriverCluster.java:51``;
index semantics: sorted position = class index,
``python/predict_batch_threaded_local.py:48-50``). Index 0
(``aerosol_cans``) doubles as the error-fallback class
(``python/predict_batch_threaded_local.py:100-108,159``).
"""

from __future__ import annotations

from swat_mapreduce_spark.functions.text import sql_ident, sql_string

CLASS_NAMES: list[str] = [
    "aerosol_cans",
    "aluminum_food_cans",
    "aluminum_soda_cans",
    "cardboard_boxes",
    "cardboard_packaging",
    "clothing",
    "coffee_grounds",
    "disposable_plastic_cutlery",
    "eggshells",
    "food_waste",
    "glass_beverage_bottles",
    "glass_cosmetic_containers",
    "glass_food_jars",
    "magazines",
    "newspaper",
    "office_paper",
    "paper_cups",
    "plastic_cup_lids",
    "plastic_detergent_bottles",
    "plastic_food_containers",
    "plastic_shopping_bags",
    "plastic_soda_bottles",
    "plastic_straws",
    "plastic_trash_bags",
    "plastic_water_bottles",
    "shoes",
    "steel_food_cans",
    "styrofoam_cups",
    "styrofoam_food_containers",
    "tea_bags",
]

NUM_CLASSES = len(CLASS_NAMES)
assert NUM_CLASSES == 30
assert CLASS_NAMES == sorted(CLASS_NAMES)


def class_name_at(idx: str, names: list[str] = CLASS_NAMES) -> str:
    """Spark SQL text: ``names[idx]`` for the integer column ``idx`` (a
    column name), with an out-of-range or null index → ``names[0]``
    (python/predict_batch_threaded_local.py:159; SURVEY.md §2A #14) —
    the same rows as a left join on the ``(label_idx, class_name)``
    dictionary plus ``coalesce`` to ``names[0]``, but a per-row
    lookup in a literal array: no join and no extra Spark job. The
    guard keeps ``[idx]`` in range, so it never raises under ANSI mode.
    Names are escaped string literals, so a custom vocabulary may hold
    any character. Parse with ``F.expr`` (CLAUDE.md gotcha 18)."""
    i = sql_ident(idx)
    arr = ", ".join(sql_string(n) for n in names)
    return (
        f"CASE WHEN {i} >= 0 AND {i} < {len(names)} THEN array({arr})[{i}] "
        f"ELSE {sql_string(names[0])} END"
    )


def labels_values_sql() -> str:
    """DuckDB VALUES clause for the same dictionary (oracle side)."""
    rows = ", ".join(f"({i}, '{c}')" for i, c in enumerate(CLASS_NAMES))
    return f"(VALUES {rows}) AS labels(label_idx, class_name)"


def derive_class_names(path: str) -> list[str]:
    """Label-dict derivation, reference rules
    (python/predict_batch_threaded_local.py:41-52):
    file → stripped non-empty lines (order preserved);
    directory → sorted subdirectory names;
    else → sorted stems of the files inside.
    Driver-side (tiny); rows look names up via :func:`class_name_at`.
    """
    import os

    if os.path.isfile(path):
        with open(path, encoding="utf-8") as f:
            return [ln.strip() for ln in f if ln.strip()]
    entries = sorted(os.listdir(path))
    subdirs = [e for e in entries if os.path.isdir(os.path.join(path, e))]
    if subdirs:
        return sorted(subdirs)
    return sorted(os.path.splitext(e)[0] for e in entries)
