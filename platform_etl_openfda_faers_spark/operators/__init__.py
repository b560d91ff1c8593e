"""DataFrame -> DataFrame operators, one submodule each; import the one you
need (``from platform_etl_openfda_faers_spark.operators import montecarlo``).

Submodules are not imported here: Python UDF workers import the module that
defines their function, and importing every operator would load pandas and
pyarrow (via ``multimodal``) into each worker.
"""
