from .packaging import install_zipimport_stat_check

install_zipimport_stat_check()
