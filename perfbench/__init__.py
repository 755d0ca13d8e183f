"""Performance benchmark of the validation engine; see BENCHMARK.json."""
