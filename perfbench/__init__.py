"""Entity-resolution benchmark for the ``mapping_analysis_spark`` engine."""
