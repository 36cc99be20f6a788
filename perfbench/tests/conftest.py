def pytest_configure(config):
    config.addinivalue_line("markers", "smoke: tiny-input end-to-end runs of the benchmark (start Spark)")
