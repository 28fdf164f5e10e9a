from sri_spark.functions.dates import (
    MESES_ES,
    DIAS_ES,
    date_parts,
    nombre_dia_es,
    nombre_mes_es,
)
from sri_spark.functions.cleaning import clean_text, coerce_double

__all__ = [
    "MESES_ES",
    "DIAS_ES",
    "date_parts",
    "nombre_mes_es",
    "nombre_dia_es",
    "clean_text",
    "coerce_double",
]
